"""LLM-data-pipeline queries (north star, BASELINE.json): dedup,
similarity search, text analysis, multimodal columns.

Registered into the shared REGISTRY; oracle SQL mirrors each Spark
expression step-for-step (same normalization, same rounding) so the
driver's hash compare is exact.  Approximate/sketch operators
(MinHash-LSH, SimHash, SRP-LSH, IVF) are rows-only by nature — their
exact *verify* stages are the oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tmp_parquet_merge_spark.operators import (
    curation,
    dedup,
    multimodal,
    similarity,
    text,
)
from tmp_parquet_merge_spark.registry import query, t

# Shared DuckDB fragments — the oracle spelling of normalize_text /
# words / word_shingles (operators/dedup.py) over the documents table.
_W = r"""
    w AS (
        SELECT doc_id, text,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        FROM documents
    )
"""
_SH = r"""
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(ws) - 2, 1)),
                   i -> array_to_string(ws[i:i+2], ' '))) AS shingles
        FROM w
    )
"""
# Deterministic double dot product over float lists (index-order fold,
# matching operators/similarity.py::dot's zip_with+aggregate).
_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)

# CONTRACT: the exact pair generators below (shared-shingle self-join /
# all-pairs cosine) are verify-stage oracle twins whose worst case is
# quadratic.  Every registered query that uses one caps its pair-
# generation input to _PAIR_CAP ids — far above every bundled sf (sf0.1
# has 5k docs / 2k vectors) but a hard ceiling so the registered plan
# cannot be pointed at a large corpus by accident.  The LSH twins
# (q_dedup_*_lsh, q_dedup_minhash, q_contamination_lsh, q_ann_*) are
# the uncapped 100 TB path.  The cap predicate appears in BOTH the
# Spark builder and the oracle SQL — or in NEITHER (the LSH twins'
# oracles are _uncapped() because their Spark builders scan the full
# corpus) — so hash parity never hinges on corpus size.
_PAIR_CAP = 20_000
# Quality-metadata probe size: recall stamps measure against the
# exact twin on the lowest _RECALL_PROBE ids only, so the exact side
# stays O(probe²) at any corpus scale.  Covers the whole bundled
# corpora (500 vectors), so driver-visible values are true global
# recall at the oracle tiers.  (q_dedup_embedding_lsh graduated off
# its stamp — the multi-probe over-fetch makes it
# oracle-backed; kept for any future approximate family member.)
_RECALL_PROBE = 500
_W_CAP = _W.replace("FROM documents", f"FROM documents WHERE doc_id < {_PAIR_CAP}")


def _uncapped(capped_oracle: str) -> str:
    """The uncapped spelling of a _W_CAP-built oracle — for the LSH
    twins, whose Spark builders scan the FULL corpus (the 100 TB
    path), so their oracles must not cap either or hash parity breaks
    the first time a corpus crosses _PAIR_CAP ids (the cap-parity
    contract above: the cap appears in both engines or neither).  The
    oracle side is a correctness-gate artifact that only ever runs at
    the driver's sf0.01 / the suite's sf0.001, so the exact pair
    generator's quadratic worst case is not a concern here — the cap
    on the EXACT twins protects their registered Spark plans, not
    DuckDB."""
    cap = f"FROM documents WHERE doc_id < {_PAIR_CAP}"
    assert capped_oracle.count(cap) == 1, capped_oracle.count(cap)
    return capped_oracle.replace(cap, "FROM documents")


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle=f"""
        WITH {_W}
        SELECT sha256(norm) AS content_sha,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_dupes
        FROM w GROUP BY 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: group by sha2(normalized text), keep min doc_id.
    Only 32-byte digests shuffle — document bodies never move."""
    return dedup.exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


# Shared by the capped exact verify twin and q_dedup_minhash (tests
# pin verified-LSH output == exact output at the 0.5 threshold on the
# bundled corpora: test_minhash_verified_equals_exact_at_half).
_NGRAM_JACCARD_ORACLE = f"""
        WITH {_W_CAP}, {_SH},
        e AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
        n AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
        FROM p
        JOIN n na ON na.doc_id = doc_a
        JOIN n nb ON nb.doc_id = doc_b
        WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= 0.5
"""


@query("q_dedup_ngram", oracle=_NGRAM_JACCARD_ORACLE)
def q_dedup_ngram(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (sim ≥ 0.5) — the
    verify stage of the near-dup pipeline, oracle-checked.  Input
    capped at _PAIR_CAP docs (see the contract note above); the
    uncapped scale path is q_dedup_minhash."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_CAP)
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)


@query("q_dedup_minhash", oracle=_uncapped(_NGRAM_JACCARD_ORACLE))
def q_dedup_minhash(spark, sf_dir):
    """MinHash(64) + LSH(16 bands × 4 rows ⇒ ~0.5 Jaccard S-curve knee)
    candidate pairs, verified with exact shingle Jaccard.  Oracle:
    murmur3 banding isn't reproducible in SQL, but the VERIFIED
    output is — on the bundled corpora every true pair survives
    banding (pinned in tests/test_llm_ops.py::
    test_minhash_verified_equals_exact_at_half), so the exact-Jaccard
    SQL oracles the full pipeline deterministically (seeded hashing,
    no RNG).  On adversarial J≈0.5 data recall < 1 by the S-curve —
    corpus-level equality, not an identity."""
    return dedup.minhash_dedup_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_perm=64,
        bands=16,
        verify_threshold=0.5,
    )


@query(
    "q_dedup_prefix",
    oracle=f"""
        WITH {_W}
        SELECT sha256(array_to_string(ws[1:20], ' ')) AS prefix_sha,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_dupes
        FROM w GROUP BY 1
    """,
)
def q_dedup_prefix(spark, sf_dir):
    """Prefix dedup (first 20 normalized words): catches truncation
    duplicates and boilerplate heads that full-text exact dedup
    misses.  Same 32-byte-digest shuffle contract as q_dedup_exact."""
    return dedup.prefix_dedup(
        t(spark, sf_dir, "documents"), "text", "doc_id", n_words=20
    )


@query(
    "q_dedup_segments",
    oracle=f"""
        WITH {_W},
        seg AS (
            SELECT DISTINCT doc_id,
                   array_to_string(ws[i*10+1 : i*10+10], ' ') AS segment
            FROM w, UNNEST(range(CAST(len(ws) // 10 AS BIGINT))) AS t(i)
        )
        SELECT segment, COUNT(*) AS doc_freq
        FROM seg GROUP BY 1 HAVING COUNT(*) >= 2
    """,
)
def q_dedup_segments(spark, sf_dir):
    """Repeated-segment (boilerplate) detection — the C4/RefinedWeb
    "remove lines repeated across documents" step, at word-window
    granularity since the corpus has no newlines: every non-overlapping
    full 10-word window of the normalized text, with the number of
    DISTINCT documents containing it; windows spanning ≥ 2 docs are the
    boilerplate blacklist a curation pass anti-joins against (headers,
    footers, license blurbs — sub-document duplication that doc-level
    exact/near dedup cannot see).

    Plan shape: one projection (split + sequence-explode + slice, all
    codegen — no window function, no per-doc shuffle), distinct on
    (doc_id, segment), one hash-agg by segment.  Segments are bounded
    (≤ 10 words) so the shuffle rows are small and the group count is
    corpus-vocabulary-bounded; at open scale, group by xxhash64(segment)
    digests and keep min(segment) as the representative to shrink
    shuffle bytes further (the q_dedup_exact digest discipline).
    The body lives in operators/dedup.py::segment_blacklist (window
    width a parameter) so the hypothesis property
    suite can pin it against a pure-Python reference at small n."""
    return dedup.segment_blacklist(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=10
    )


@query(
    "q_segments_clean",
    oracle=f"""
        WITH {_W},
        seg AS (
            SELECT doc_id, i,
                   array_to_string(ws[i*10+1 : i*10+10], ' ') AS segment
            FROM w, UNNEST(range(CAST(len(ws) // 10 AS BIGINT))) AS t(i)
        ),
        bl AS (
            SELECT segment FROM (
                SELECT segment, COUNT(DISTINCT doc_id) AS df
                FROM seg GROUP BY 1
            ) WHERE df >= 2
        ),
        tails AS (
            SELECT doc_id, CAST(len(ws) // 10 AS BIGINT) AS i,
                   array_to_string(ws[(len(ws) // 10)*10+1 : len(ws)], ' ')
                       AS segment
            FROM w WHERE len(ws) > (len(ws) // 10)*10
        ),
        kept AS (
            SELECT doc_id, i, segment FROM seg
            WHERE segment NOT IN (SELECT segment FROM bl)
            UNION ALL
            SELECT doc_id, i, segment FROM tails
        ),
        dropped AS (
            SELECT doc_id, COUNT(*) AS n_dropped FROM seg
            WHERE segment IN (SELECT segment FROM bl) GROUP BY 1
        )
        SELECT w.doc_id,
               COALESCE(k.clean_text, '') AS clean_text,
               COALESCE(d.n_dropped, 0) AS n_dropped
        FROM w
        LEFT JOIN (
            SELECT doc_id, string_agg(segment, ' ' ORDER BY i) AS clean_text
            FROM kept GROUP BY 1
        ) k USING (doc_id)
        LEFT JOIN dropped d USING (doc_id)
    """,
)
def q_segments_clean(spark, sf_dir):
    """The action half of q_dedup_segments: REWRITE every document
    with its cross-document repeated 10-word windows removed (the
    C4/RefinedWeb boilerplate-strip step), keeping window order and
    the ragged tail, plus the per-doc count of dropped windows.  Docs
    under 10 words pass through as their normalized text; a doc that
    was ALL boilerplate comes back as the empty string (the curation
    filter downstream drops it), never silently disappears — the
    output has exactly one row per input document.

    Plan shape: the (doc, window-index, segment) relation derives once
    (localCheckpoint) and feeds the blacklist agg, the keep anti-join,
    and the dropped-count semi-join; reassembly is one hash-agg per
    doc over array_sort(collect_list(struct(i, segment))) — the
    order-safe spelling (collect_list alone has no ordering
    contract).  Shuffles carry bounded ≤10-word segments keyed by
    segment or doc_id; nothing is quadratic and no full text rides
    more than one shuffle.  The body lives in
    operators/dedup.py::segments_clean (window width a parameter) so
    the hypothesis property suite can pin it against a
    pure-Python stride reference at small n."""
    return dedup.segments_clean(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=10
    )


@query(
    "q_dedup_substring",
    oracle=f"""
        WITH {_W},
        g AS (
            SELECT doc_id, i - 1 AS i,
                   array_to_string(ws[i : i + 9], ' ') AS gram
            FROM w, UNNEST(generate_series(1, len(ws) - 9)) AS t(i)
            WHERE len(ws) >= 10
        ),
        shared AS (
            SELECT gram FROM (
                SELECT gram, COUNT(DISTINCT doc_id) AS df
                FROM g GROUP BY 1
            ) WHERE df >= 2
        ),
        q AS (
            SELECT doc_id, i,
                   i - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY i) AS isl
            FROM g WHERE gram IN (SELECT gram FROM shared)
        ),
        s AS (
            SELECT doc_id, i, isl,
                   MAX(i) OVER (PARTITION BY doc_id, isl)
                     - MIN(i) OVER (PARTITION BY doc_id, isl) + 10 AS span
            FROM q
        ),
        c AS (
            SELECT doc_id, i, isl,
                   LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev,
                   LAG(isl) OVER (PARTITION BY doc_id ORDER BY i)
                       AS prev_isl
            FROM s WHERE span >= 20
        ),
        per AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN prev_isl IS NULL OR prev_isl <> isl
                                 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
                   CAST(SUM(CASE WHEN prev IS NULL THEN 10
                                 ELSE LEAST(i - prev, 10) END) AS BIGINT)
                       AS dup_words
            FROM c GROUP BY 1
        )
        SELECT p.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
               p.dup_spans, p.dup_words,
               round(CAST(p.dup_words AS DOUBLE) / len(w.ws), 6) AS frac_dup
        FROM per p JOIN w USING (doc_id)
    """,
)
def q_dedup_substring(spark, sf_dir):
    """Exact substring dedup at arbitrary word boundaries — the
    relational approximation of the suffix-array method of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better":
    remove corpus-repeated substrings ≥ 50 BPE tokens), the one
    well-known dedup family the engine lacked.  Every SLIDING 10-word
    gram (stride 1 — q_dedup_segments' aligned stride-10 windows miss
    repeats that start mid-window) is marked if it occurs in ≥ 2
    distinct documents; maximal runs of consecutive marked positions
    spanning ≥ 20 words are the cross-document repeated substrings.
    Per affected doc: span count, union word-cover of qualifying
    positions (the lag-capped sum Σ min(iₜ−iₜ₋₁, k) — exact even when
    adjacent spans' k-word covers overlap), and the duplicated
    fraction a curation pass thresholds on.

    Plan shape: codegen split/sequence-explode/slice emits O(total
    words) gram rows (localCheckpoint'd once for its two consumers);
    one corpus-wide hash-agg keyed by the ≤10-word gram (the oracle-
    exact spelling — at open scale pass digest_grams=True and the agg
    keys on xxhash64(gram), the q_dedup_exact discipline, 8 bytes on
    the wire instead; output equality pinned in tests);
    run/cover windows partition by doc_id so sort extent is bounded by
    document length.  Nothing is quadratic in corpus size — the
    all-pairs structure a literal suffix array would need never
    materializes.  North-star dedup mandate (BASELINE.json); extends
    queries_llm.py's segment machinery (q_dedup_segments)."""
    return dedup.substring_dup_spans(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=10, min_len=20
    )


@query(
    "q_substring_clean",
    oracle=f"""
        WITH {_W},
        g AS (
            SELECT doc_id, i - 1 AS i,
                   array_to_string(ws[i : i + 9], ' ') AS gram
            FROM w, UNNEST(generate_series(1, len(ws) - 9)) AS t(i)
            WHERE len(ws) >= 10
        ),
        shared AS (
            SELECT gram FROM (
                SELECT gram, COUNT(DISTINCT doc_id) AS df
                FROM g GROUP BY 1
            ) WHERE df >= 2
        ),
        q AS (
            SELECT doc_id, i,
                   i - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY i) AS isl
            FROM g WHERE gram IN (SELECT gram FROM shared)
        ),
        s AS (
            SELECT doc_id, i,
                   MAX(i) OVER (PARTITION BY doc_id, isl)
                     - MIN(i) OVER (PARTITION BY doc_id, isl) + 10 AS span
            FROM q
        ),
        cov AS (
            SELECT DISTINCT doc_id, t2.w
            FROM s, UNNEST(generate_series(s.i, s.i + 9)) AS t2(w)
            WHERE s.span >= 20
        ),
        words_r AS (
            SELECT doc_id, i - 1 AS w, ws[i] AS word
            FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)
        ),
        kept AS (
            SELECT r.doc_id, r.w, r.word FROM words_r r
            WHERE NOT EXISTS (
                SELECT 1 FROM cov c
                WHERE c.doc_id = r.doc_id AND c.w = r.w
            )
        ),
        clean AS (
            SELECT doc_id,
                   string_agg(word, ' ' ORDER BY w) AS clean_text
            FROM kept GROUP BY 1
        ),
        nd AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dropped
            FROM cov GROUP BY 1
        )
        SELECT w.doc_id,
               COALESCE(clean.clean_text, '') AS clean_text,
               CAST(COALESCE(nd.n_dropped, 0) AS BIGINT) AS n_dropped
        FROM w
        LEFT JOIN clean USING (doc_id)
        LEFT JOIN nd USING (doc_id)
    """,
)
def q_substring_clean(spark, sf_dir):
    """The action half of q_dedup_substring — the removal step of Lee
    et al. 2022: REWRITE every document with its qualifying repeated-
    substring word cover removed, surviving words kept in order, plus
    the per-doc removed-word count.  Exactly one output row per input
    document (unaffected and sub-10-word docs pass through as
    normalized text; an all-repeated doc comes back empty, never
    silently disappears — the q_segments_clean contract at arbitrary
    boundaries).

    Plan shape: the shared marked-run pipeline (one gram-keyed
    hash-agg, broadcast semi-join, doc-partitioned windows) plus a
    qualifying-span position explode, a words posexplode (O(total
    words) single-word rows — whole documents never ride a shuffle),
    a (doc, position) anti-join, and one order-safe
    array_sort(collect_list(struct)) reassembly agg per doc.  Nothing
    quadratic; shuffles are keyed by doc id or (doc id, position)."""
    return dedup.substring_clean(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=10, min_len=20
    )


# Shared by the blocked query and its LSH-fed twin (which tests pin
# row-for-row equal on the bundled corpora — every small-edit pair
# both shares its 2-word prefix and sits far above the LSH S-curve
# knee, so the one exact-SQL spelling oracles both plans).
_EDITDIST_ORACLE = f"""
    WITH {_W_CAP},
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(a.norm, b.norm) AS lev,
               greatest(length(a.norm), length(b.norm)) AS mx
        FROM w a
        JOIN w b
          ON array_to_string(a.ws[1:2], ' ') = array_to_string(b.ws[1:2], ' ')
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, lev,
           round(1 - CAST(lev AS DOUBLE) / mx, 6) AS sim
    FROM p
    WHERE lev * 100 <= mx * 20
"""


@query("q_dedup_editdist", oracle=_EDITDIST_ORACLE)
def q_dedup_editdist(spark, sf_dir):
    """Character-level (Levenshtein) near-dup pairs with 2-word prefix
    blocking: the small-edit complement to shingle Jaccard — catches
    typo-fix / template-fill duplicates whose shingle sets diverge.
    Pair generation is capped at _PAIR_CAP docs (verify-twin contract
    above); at 100 TB the pair source is MinHash-LSH candidates and
    this verify runs on id-joined pairs only."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_CAP)
    return dedup.editdist_pairs(
        docs, "text", "doc_id", prefix_words=2, max_rel_dist_pct=20
    )


@query("q_dedup_editdist_lsh", oracle=_uncapped(_EDITDIST_ORACLE))
def q_dedup_editdist_lsh(spark, sf_dir):
    """The 100 TB spelling of q_dedup_editdist:
    candidate pairs come from MinHash-LSH (shuffle O(docs × bands),
    bodies never enter the blocking join) and Levenshtein runs as a
    verify over id-joined candidates only — normalized text moves for
    candidate ids alone, so verify cost tracks |candidates|, not
    |corpus|².  Oracle: the exact blocked-join SQL — on the
    bundled corpora every small-edit pair shares its 2-word prefix
    AND sits far above the LSH S-curve knee, so the two plans are
    row-for-row equal (pinned in tests/test_llm_ops.py::
    test_editdist_lsh_fed_equals_blocked_join) and the hash compare
    holds deterministically (seeded hashing, no RNG).  On adversarial
    data LSH recall < 1 by the S-curve — the oracle certifies
    corpus-level equality, not an algebraic identity."""
    docs = t(spark, sf_dir, "documents")
    cand = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, verify_threshold=None
    )
    return dedup.editdist_pairs(
        docs,
        "text",
        "doc_id",
        max_rel_dist_pct=20,
        candidates=cand,
    )


# 64 per-bit SimHash vote aggregates + the signed-long signature sum,
# generated once — the oracle twin of operators/dedup.py::simhash's
# conv(md5) piece arithmetic (bit b of the hash = bit b%16 of
# most-significant-first piece b//16; bit 63 contributes the negative
# 2^63 because the signature is a signed long on both engines)
_SIMHASH_VOTES = ",\n               ".join(
    f"SUM(CASE WHEN (p{3 - b // 16} >> {b % 16}) & 1 = 1 "
    f"THEN 1 ELSE -1 END) AS b{b}"
    for b in range(64)
)
_SIMHASH_SIG = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {-(1 << 63) if b == 63 else (1 << b)} "
    "ELSE 0 END"
    for b in range(64)
)


@query(
    "q_dedup_simhash",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
        pieces AS (
            SELECT doc_id,
                   ('0x' || substring(md5(w), 1, 4))::BIGINT AS p0,
                   ('0x' || substring(md5(w), 5, 4))::BIGINT AS p1,
                   ('0x' || substring(md5(w), 9, 4))::BIGINT AS p2,
                   ('0x' || substring(md5(w), 13, 4))::BIGINT AS p3
            FROM tok
        ),
        votes AS (
            SELECT doc_id,
               {_SIMHASH_VOTES}
            FROM pieces GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id, CAST({_SIMHASH_SIG} AS BIGINT) AS s FROM votes
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.s, b.s)) <= 8
        )
        SELECT doc_a, doc_b, hamming FROM pairs
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash(64-bit) near-dup pairs, Hamming ≤ 8 — EXACT and
    oracle-backed: the token hash is md5-pieces rather than xxhash64
    (the one 64-bit hash DuckDB spells identically) and the banded
    candidate join is multi-index hashing (4
    16-bit bands probing Hamming-2 balls — pigeonhole-exact for
    radius 8, where f=0 banding would be only exact to Hamming 3
    and silently lossy above; operators/dedup.py::simhash_dedup_pairs).
    The oracle recomputes the signatures in SQL (64 per-bit vote
    aggregates over the same md5 pieces) and verifies pairs by exact
    all-pairs bit_count at test scale.

    There is no 3-gram Jaccard stamp: it would only give the rows-only
    driver check quality evidence, and with the exact oracle that
    evidence is the hash compare itself.  Such a stamp was also the
    measured 25× scale bottleneck — the (pair × shingles) stamp join fanned out
    to ~|pairs|·|shingles/doc| rows (measured 64 s of the query's 25×
    cost; signatures + MIH verify alone are a fraction of that).
    Pair-quality analysis at corpus scale belongs to the sampled
    offline audit, not the per-run operator."""
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=8)


# Shared by the exact-pair query and its LSH twin (tests pin the two
# composed pipelines row-for-row equal on the bundled corpora:
# test_lsh_twin_queries_equal_exact_on_bundled_corpus).
_CLUSTER_ORACLE = f"""
        WITH RECURSIVE {_W_CAP}, {_SH},
        e0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
        n AS (SELECT doc_id, COUNT(*) AS n FROM e0 GROUP BY 1),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM e0 a JOIN e0 b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pj AS (
            SELECT doc_a, doc_b FROM p
            JOIN n na ON na.doc_id = doc_a
            JOIN n nb ON nb.doc_id = doc_b
            WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= 0.5
        ),
        ed AS (
            SELECT doc_a AS a, doc_b AS b FROM pj
            UNION ALL
            SELECT doc_b, doc_a FROM pj
        ),
        walk(node, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT ed.b, walk.lab FROM walk JOIN ed ON ed.a = walk.node
        )
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM walk GROUP BY node
"""


def _exact_cluster_assignments(spark, sf_dir):
    """The capped exact-pair connected-components pipeline shared by
    q_dedup_cluster and q_cluster_stats (single Spark-side source for
    the single _CLUSTER_ORACLE both oracles derive from — a parameter
    change here cannot drift one query away from its oracle)."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs.filter(F.col("doc_id") < _PAIR_CAP),
        "text",
        "doc_id",
        n=3,
        threshold=0.5,
    )
    return dedup.dedup_clusters(pairs, docs, "doc_id")


@query("q_dedup_cluster", oracle=_CLUSTER_ORACLE)
def q_dedup_cluster(spark, sf_dir):
    """Connected components over the near-dup pairs — the dedup
    pipeline's final stage: every document labelled with its
    component's min doc_id (singletons label themselves).  Iterative
    min-label propagation with per-round lineage truncation.

    ORACLE TWIN: pairs come from the exact shared-shingle Jaccard
    generator so parity with the recursive-CTE oracle is deterministic,
    not an LSH-recall bet (a J≈0.5 borderline pair survives 16×4
    banding only ~64% of the time on adversarial data).  Pair
    generation is capped at _PAIR_CAP docs; the uncapped 100 TB path is
    q_dedup_cluster_lsh below, whose pair source shuffles
    O(docs × bands) and which tests assert equal on the bundled
    corpora."""
    return _exact_cluster_assignments(spark, sf_dir)


@query("q_dedup_cluster_lsh", oracle=_uncapped(_CLUSTER_ORACLE))
def q_dedup_cluster_lsh(spark, sf_dir):
    """The 100 TB spelling of q_dedup_cluster: pairs from MinHash-LSH
    candidates (shuffle O(docs × bands), document text never moves)
    verified with exact shingle Jaccard, then the same min-label
    propagation.  Oracle: the exact twin's recursive-CTE SQL —
    the bundled corpora's near-dup pairs sit far above the 16×4
    S-curve knee, so verified-LSH pairs equal exact pairs and the
    composed pipelines are row-for-row equal (pinned in
    tests/test_llm_ops.py::test_lsh_twin_queries_equal_exact_on_
    bundled_corpus); the hash compare is deterministic (seeded
    hashing, no RNG).  On adversarial J≈0.5 data recall < 1 — the
    oracle certifies corpus-level equality, not an identity."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, verify_threshold=0.5
    )
    return dedup.dedup_clusters(pairs, docs, "doc_id")


@query(
    "q_split_assign",
    oracle="""
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment by the first hex nibble
    of md5(doc_id): 13/2/1 sixteenths.  Stable under corpus growth —
    a pure function of the row, no RNG, no shuffle."""
    return curation.split_assign(t(spark, sf_dir, "documents"), "doc_id")


@query(
    "q_dedup_embedding",
    oracle=f"""
        WITH a AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id < {_PAIR_CAP}),
        p AS (
            SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
                   round({_cos("x.embedding", "y.embedding")}, 6) AS sim
            FROM a x JOIN a y ON x.vec_id < y.vec_id
        )
        SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.4
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (sim ≥ 0.4) — exact all-pairs
    verify stage, input capped at _PAIR_CAP vectors (see the contract
    note above); the uncapped scale path is q_dedup_embedding_lsh."""
    return similarity.embedding_dedup_pairs(
        t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _PAIR_CAP),
        threshold=0.4,
    )


@query(
    "q_dedup_embedding_lsh",
    oracle=f"""
        SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
               round({_cos("x.embedding", "y.embedding")}, 6) AS sim
        FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        WHERE round({_cos("x.embedding", "y.embedding")}, 6) >= 0.4
    """,
)
def q_dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup pairs at 100 TB shape: SRP-LSH bucket
    candidates (shuffle = O(vectors × bands × bits) int keys, never a
    cartesian), exact cosine ≥ 0.4 on candidates only.  Banding is
    corpus-adaptive (similarity._auto_lsh_params), sized at the
    OPERATING threshold, and — the q_ann_lsh protocol applied to the
    pair problem — over-fetched with Hamming-1
    multi-probe (Lv et al. 2007: the probe side also checks every band
    key with one bit flipped, int-XOR arithmetic on packed band keys)
    at target_recall 1-1e-5, so per-pair miss probability at the 0.4
    boundary is ≤ 1e-5 and the emitted pair set is row-identical to
    the exact twin q_dedup_embedding (uncapped) on the bundled
    corpora: 66/66, 59/59, 920/920 at sf0.001/0.01/0.1, equality
    pinned in tests/test_llm_ops.py.  ORACLE: the exact all-pairs
    SQL — candidates are verified
    with the SAME exact cosine, so output ⊆ exact always, and the
    over-fetch closes the gap measured at 0.93-0.97 by the recall
    stamps.  The honest open-scale law is unchanged (SCALE.md): the
    64-band cap fixes per-pair miss probability at bundled n; at
    1000× the corpus, bits track log2(n) and recall at loose cosine
    decays — near-threshold pair mining at 0.4 on 100 TB is SemDeDup
    territory (q_dedup_semantic) or a higher-threshold rerun.  The
    bundled corpora sit in the saturation regime (threshold 0.4 is
    the random-background 3σ tail: all 920 sf0.1 pairs lie in
    [0.40, 0.61] with non-pairs 1e-4 below the cut), so candidates ≈
    all pairs HERE while the banded shape stays sub-quadratic at real
    near-dup thresholds — both regimes measured in SCALE.md.
    REGIME SWITCH (from the 25× sweep's 53× blow-up): when the
    auto-sizing's analytic background candidate fraction saturates
    (≥5% of RANDOM pairs would collide — banding is inspecting ~all
    pairs anyway) and the corpus fits the broadcast cap, the builder
    swaps the banded index for a column-blocked exact matmul scan
    (similarity._exact_pair_scan): identical pair set (recall exactly
    1 — the exact-twin oracle holds by construction), no materialized
    candidate relation, n²·d BLAS flops.  Measured: 420.9 s → 3.6 s
    at 25× (50k vectors), 7.9 s → 0.9 s at sf0.1.  Above the cap the
    banded path stands with its documented decay law (SemDeDup
    handoff) — and at saturation + open scale the OUTPUT itself is
    Θ(n²) pairs, so no algorithm is sub-quadratic there."""
    return similarity.embedding_dedup_pairs_lsh(
        t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        probe_flips=1,
        target_recall=0.99999,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "q_topk_similarity",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_vec, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS n_vec, embedding AS n_emb FROM embeddings),
        sims AS (
            SELECT q_vec, n_vec, round({_cos("q_emb", "n_emb")}, 6) AS sim
            FROM c, q WHERE n_vec != q_vec
        ),
        r AS (
            SELECT q_vec, n_vec, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_vec
                                      ORDER BY sim DESC, n_vec) AS rn
            FROM sims
        )
        SELECT q_vec, n_vec, sim FROM r WHERE rn <= 10
    """,
)
def q_topk_similarity(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors: broadcast
    queries, one corpus pass, per-query heap — the exact ANN baseline.
    Similarity rounded before ranking so both engines rank identically."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=10)


@query(
    "q_knn_classify",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_vec, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS n_vec, embedding AS n_emb, label
              FROM embeddings),
        sims AS (
            SELECT q_vec, n_vec, label,
                   round({_cos("q_emb", "n_emb")}, 6) AS sim
            FROM c, q WHERE n_vec != q_vec
        ),
        r AS (
            SELECT q_vec, label, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_vec
                                      ORDER BY sim DESC, n_vec) AS rn
            FROM sims
        ),
        votes AS (
            SELECT q_vec, label, COUNT(*) AS n_votes
            FROM r WHERE rn <= 10 GROUP BY 1, 2
        ),
        ranked AS (
            SELECT q_vec, label, n_votes,
                   ROW_NUMBER() OVER (PARTITION BY q_vec
                                      ORDER BY n_votes DESC, label) AS vr
            FROM votes
        )
        SELECT q_vec, CAST(label AS INTEGER) AS pred_label, n_votes
        FROM ranked WHERE vr = 1
    """,
)
def q_knn_classify(spark, sf_dir):
    """kNN classification over the embedding column: exact cosine
    top-10 neighbors per query (broadcast queries, one corpus pass),
    majority vote over neighbor labels (ties → smallest label).  The
    eval loop for embedding-space labelers, all built-in ops."""
    e = t(spark, sf_dir, "embeddings")
    topk = similarity.brute_force_topk(e, e.filter(F.col("vec_id") < 20), k=10)
    labeled = topk.join(
        e.select(F.col("vec_id").alias("n_vec"), "label"), "n_vec"
    )
    votes = labeled.groupBy("q_vec", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_vec").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select(
            "q_vec", F.col("label").cast("int").alias("pred_label"), "n_votes"
        )
    )


@query(
    "q_ann_lsh",
    # Exact-twin oracle (the dedup-LSH conversion pattern): the
    # 512-bit SRP sketch + 300-candidate over-fetch + exact re-rank
    # covers the true top-10 on EVERY bundled corpus (recall 1.0 at
    # sf0.001, sf0.01 AND sf0.1, pinned in tests/test_llm_ops.py — the
    # 256/200 first cut was exact only at the two oracle tiers and
    # failed check_oracle at sf0.1), so the approximate path's output
    # is row-identical to the brute-force SQL below at every tier the
    # parity tools run.  On data where over-fetch misses, recall
    # degrades gracefully — see ann_topk's honest-recall note.
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_vec, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS n_vec, embedding AS n_emb FROM embeddings),
        sims AS (
            SELECT q_vec, n_vec, round({_cos("q_emb", "n_emb")}, 6) AS sim
            FROM c, q WHERE n_vec != q_vec
        ),
        r AS (
            SELECT q_vec, n_vec, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_vec
                                      ORDER BY sim DESC, n_vec) AS rn
            FROM sims
        )
        SELECT q_vec, n_vec, sim FROM r WHERE rn <= 10
    """,
)
def q_ann_lsh(spark, sf_dir):
    """Approximate top-k via SRP sketches: 512-bit signatures ranked
    by Hamming distance, 300-candidate over-fetch, exact cosine
    re-rank (similarity.ann_topk).  Replaces a banded form whose
    4×4-bit bands measured 25/50 missed pairs — banding cannot
    separate cos 0.3 signal from cos 0.0 noise; sketch RANKING uses
    all 512 bits and can.  Oracle: brute-force exact twin (candidate
    cover pinned in tests makes the approximate output identical)."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.ann_topk(
        e, e.filter(F.col("vec_id") < 5), dim=64, k=10, nbits=512,
        overfetch=300,
    )


@query("q_kmeans")
def q_kmeans(spark, sf_dir):
    """Lloyd's k-means (k=8) over the embeddings: broadcast centroids,
    Arrow-matmul assignment, map-side-combined centroid update —
    the iterative fit behind a real IVF index.  Rows-only (iterative
    floating-point fit isn't SQL-expressible), but the output carries
    fit metadata (n_iter / final_shift / converged) so the rows-only
    check sees convergence, not just opaque labels."""
    return similarity.kmeans_fit_with_stats(
        t(spark, sf_dir, "embeddings"), k=8, max_iter=10
    )


def _stamp_recall_at_k(approx, exact):
    """Join-back quality stamp shared by the approximate-ANN queries:
    per-query recall of ``approx`` vs the ``exact`` twin's (q_vec,
    n_vec) pairs, rounded to 4, broadcast onto every approx row as
    ``recall_at_k``.  ``approx`` should be localCheckpoint'd by the
    caller so the pipeline isn't re-run for the stamp branch."""
    hits = exact.select("q_vec", "n_vec").join(
        approx.select("q_vec", "n_vec").withColumn("__hit", F.lit(1)),
        ["q_vec", "n_vec"],
        "left",
    )
    rec = hits.groupBy("q_vec").agg(
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            / F.count(F.lit(1)),
            4,
        ).alias("recall_at_k")
    )
    return approx.join(F.broadcast(rec), "q_vec").select(
        "q_vec", "n_vec", "sim", "recall_at_k"
    )


@query("q_ann_ivf")
def q_ann_ivf(spark, sf_dir):
    """IVF ANN: corpus assigned to nearest of 16 k-means-fitted
    centroids, queries probe their 6 nearest cells.  Rows-only
    (approximate by design) — but the output carries MEASURED quality
    (the q_kmeans fit-metadata pattern): recall_at_k per query vs
    the exact brute-force twin, so the rows-only driver check sees
    answer quality, not just opaque row counts.  The exact pass is
    the verify stage (broadcast queries, one corpus matmul pass) —
    the standard recall-evaluation harness an ANN index ships with;
    at corpus scale it runs on the same sampled query set.

    n_probe=6: measured recall 0.90/0.90/0.96 at
    sf0.001/0.01/0.1 on the bundled (uniform — IVF's worst-case)
    vectors, vs 0.86/0.84/0.94 at the old n_probe=4, while still
    pruning 10/16 cells; the ≥0.85 mean floor is pinned in
    tests/test_llm_ops.py.  On clustered real embeddings the same
    knob sits far higher (test_ivf_kmeans_centroids_lift_recall)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ivf = similarity.ivf_topk(e, q, n_cells=16, n_probe=6, k=10)
    return _stamp_recall_at_k(
        ivf.localCheckpoint(eager=False),
        similarity.brute_force_topk(e, q, k=10),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle=f"""
        WITH {_W}
        SELECT doc_id,
               CAST(length(norm) AS INTEGER) AS n_chars,
               CAST(len(ws) AS INTEGER) AS n_words,
               CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct_words,
               round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                     / greatest(len(ws), 1), 6) AS avg_word_len,
               round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)) AS DOUBLE)
                     / greatest(length(norm), 1), 6) AS punct_ratio
        FROM w
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-document surface stats (chars/words/distinct/mean word
    length/punctuation density) — scan-speed JVM expressions."""
    return text.text_stats(t(spark, sf_dir, "documents"), "text", "doc_id")


_STOP_SQL = {
    lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in text.STOPWORDS.items()
}
_RATIO = (
    "(CAST(len(list_filter(ws, x -> x IN ({stop}))) AS DOUBLE)"
    " / greatest(len(ws), 1))"
)
_R_EN = _RATIO.format(stop=_STOP_SQL["en"])
_R_DE = _RATIO.format(stop=_STOP_SQL["de"])
_R_FR = _RATIO.format(stop=_STOP_SQL["fr"])


@query(
    "q_lang_id",
    oracle=f"""
        WITH {_W},
        r AS (
            SELECT doc_id, {_R_EN} AS r_en, {_R_DE} AS r_de, {_R_FR} AS r_fr
            FROM w
        )
        SELECT doc_id,
               CASE WHEN greatest(r_en, r_de, r_fr) >= 0.02 THEN
                    CASE WHEN r_fr > greatest(r_en, r_de) THEN 'fr'
                         WHEN r_de > r_en THEN 'de'
                         ELSE 'en' END
               ELSE 'und' END AS pred_lang,
               round(greatest(r_en, r_de, r_fr), 6) AS stopword_ratio
        FROM r
    """,
)
def q_lang_id(spark, sf_dir):
    """Heuristic language ID: argmax of per-language stopword ratios
    (en/de/fr), 'und' below 2% — the classic n-gram/stopword baseline."""
    return text.language_id(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_quality_score",
    oracle=f"""
        WITH {_W},
        m AS (
            SELECT doc_id,
                   CAST(len(ws) AS DOUBLE) AS n_words,
                   CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                       / greatest(len(ws), 1) AS awl,
                   CAST(len(list_distinct(ws)) AS DOUBLE) / greatest(len(ws), 1)
                       AS diversity,
                   {_R_EN} AS r_en
            FROM w
        )
        SELECT doc_id,
               round((CASE WHEN n_words >= 20 AND n_words <= 5000 THEN 1.0 ELSE 0.0 END
                    + CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END
                    + CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.0 END
                    + CASE WHEN diversity >= 0.1 THEN 1.0 ELSE 0.0 END)
                   / CAST(4.0 AS DOUBLE), 6) AS quality,
               CAST(CASE WHEN n_words >= 20 AND n_words <= 5000 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS s_length,
               CAST(CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS s_word_len,
               CAST(CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS s_stopwords,
               CAST(CASE WHEN diversity >= 0.1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS s_diversity
        FROM m
    """,
)
def q_quality_score(spark, sf_dir):
    """Gopher-style quality heuristics as one scan-speed expression:
    length band, mean word length band, stopword presence, diversity."""
    return text.quality_score(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_token_count",
    oracle=f"""
        WITH {_W}
        SELECT doc_id,
               CAST(len(ws) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS INTEGER)
                   AS bpe_ish_tokens
        FROM w
    """,
)
def q_token_count(spark, sf_dir):
    """Token budgeting: whitespace tokens + BPE-ish pre-tokenizer
    (word/digit/punct regex) counts."""
    return text.token_counts(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_tfidf",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        s AS (
            SELECT doc_id, term,
                   round(tf * ln(CAST(n_docs AS DOUBLE) / dfreq), 6) AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        ),
        r AS (
            SELECT doc_id, term, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, term) AS rn
            FROM s
        )
        SELECT doc_id, term, tfidf FROM r WHERE rn <= 5
    """,
)
def q_tfidf(spark, sf_dir):
    """Top-5 terms per document by tf·idf (idf = ln(N/df)) — explode →
    two hash-aggs → broadcast N → per-doc window top-k.  Scores rounded
    before ranking, ties broken on the term, so both engines rank
    identically."""
    return text.tfidf_top_terms(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=5
    )


@query(
    "q_repetition",
    oracle=f"""
        WITH {_W}, {_SH}
        SELECT w.doc_id,
               round(CAST(1.0 AS DOUBLE)
                     - CAST(len(shingles) AS DOUBLE)
                       / greatest(len(ws) - 2, 1), 6) AS rep_ratio
        FROM w JOIN sh ON w.doc_id = sh.doc_id
    """,
)
def q_repetition(spark, sf_dir):
    """Within-doc repetition ratio (1 − distinct/total word-3-gram
    shingles) — the Gopher boilerplate signal, reusing the shingle
    pipeline's doc-keyed shuffle."""
    return text.repetition_ratio(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=3
    )


@query(
    "q_entropy",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        s AS (
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(CAST(round(tf * ln(tf), 6) AS DECIMAL(18,6))) AS s
            FROM tf GROUP BY 1
        )
        SELECT doc_id, n_tokens,
               round(ln(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 6)
                   AS entropy
        FROM s
    """,
)
def q_entropy(spark, sf_dir):
    """Per-document unigram entropy (nats) — the repetition/quality
    signal finer than distinct-shingle ratios; each term's tf·ln(tf)
    contribution rides as DECIMAL(18,6) so the sum is order-independent
    across engines."""
    return text.token_entropy(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_ngram_freq",
    oracle=f"""
        WITH {_W},
        gr AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> array_to_string(ws[i:i+1], ' '))) AS g
            FROM w
        ),
        agg AS (
            SELECT g, COUNT(*) AS n_mentions,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM gr GROUP BY 1
        )
        SELECT g, n_mentions, n_docs FROM agg
        WHERE n_docs >= 2
        ORDER BY n_mentions DESC, g LIMIT 100
    """,
)
def q_ngram_freq(spark, sf_dir):
    """Corpus-level bigram frequency table (top-100 by mentions, ≥2
    docs) — the vocab-building / boilerplate-mining primitive.  One
    hash-agg keyed by the n-gram (shuffle bounded by vocabulary, not
    corpus) + TakeOrderedAndProject top-k; ties break on the gram so
    both engines rank identically."""
    return text.ngram_freq(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=2, k=100, min_docs=2
    )


@query(
    "q_pack_sequences",
    oracle="""
        WITH tk AS (
            SELECT doc_id, source,
                   CAST(len(string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                       ' ')) AS INTEGER) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, source, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS before
            FROM tk
        )
        SELECT doc_id, source, n_tokens,
               CAST(before // 2048 AS INTEGER) AS pack_id,
               CAST(before % 2048 AS INTEGER) AS pack_offset
        FROM c
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: documents laid end-to-end into
    2048-token windows per source shard — pack_id and in-pack offset
    from a running token sum (deterministic, no RNG).  Packing is
    scoped per source so no global sort serializes the corpus; one
    shuffle on source, one sorted pass per partition."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(dedup.words("text")).alias("n_tokens")
    )
    return curation.pack_sequences(
        docs, "doc_id", "n_tokens", budget=2048, part_col="source"
    )


@query(
    "q_chunk_docs",
    oracle=f"""
        WITH {_W},
        c AS (
            SELECT doc_id, ws,
                   unnest(range(0, greatest(
                       CAST(ceil((len(ws) - 16) / 48.0) AS BIGINT), 1
                   ))) AS chunk_id
            FROM w
        ),
        s AS (
            SELECT doc_id, chunk_id,
                   ws[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS cw
            FROM c
        )
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
               array_to_string(cw, ' ') AS chunk_text,
               CAST(len(cw) AS INT) AS n_tokens
        FROM s
    """,
)
def q_chunk_docs(spark, sf_dir):
    """Sliding-window chunking: 64-word context windows advancing by 48
    words (16-word overlap) — the chunk-for-training/retrieval step.
    Pure per-row explode, zero shuffles; see operators/text.py:
    chunk_words for the 100 TB plan notes."""
    return text.chunk_words(
        t(spark, sf_dir, "documents"), "text", "doc_id", chunk=64, stride=48
    )


@query(
    "q_vocab",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        agg AS (
            SELECT term, COUNT(*) AS n_mentions,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM tok GROUP BY 1
        ),
        top AS (SELECT * FROM agg ORDER BY n_mentions DESC, term LIMIT 1000)
        SELECT term, n_mentions, n_docs,
               CAST(ROW_NUMBER() OVER (ORDER BY n_mentions DESC, term) AS INT)
                   AS vocab_id
        FROM top
    """,
)
def q_vocab(spark, sf_dir):
    """Vocabulary build: top-1000 words with contiguous frequency-rank
    ids — the tokenizer-training primitive.  Hash-agg bounded by vocab
    size + top-k; the id-assigning window runs over the k survivors
    only (see operators/text.py:vocab)."""
    return text.vocab(t(spark, sf_dir, "documents"), "text", "doc_id", k=1000)


@query(
    "q_sample_weighted",
    oracle="""
        WITH s AS (
            SELECT doc_id, source, n_chars,
                   round(
                       ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            + 1) / 4294967296.0)
                       / greatest(CAST(n_chars AS DOUBLE), 1.0),
                   9) AS sample_key
            FROM documents
        )
        SELECT doc_id, source, n_chars, sample_key
        FROM s ORDER BY sample_key DESC, doc_id LIMIT 200
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (exponential
    -sort keys, weight = document length): longer documents are
    proportionally likelier to be drawn, yet the draw is a pure
    function of doc_id — reproducible across runs, engines, and corpus
    growth.  TakeOrderedAndProject top-k, no full sort (see
    operators/curation.py:weighted_sample)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return curation.weighted_sample(docs, "doc_id", "n_chars", k=200)


@query(
    "q_doc_fingerprint",
    oracle=f"""
        WITH {_W}, {_SH}
        SELECT doc_id,
               array_to_string(
                   list_sort(list_transform(shingles, s -> md5(s)))[1:4],
                   '|') AS fingerprint
        FROM sh
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Bottom-4 md5 sketch over word-3-gram shingles (winnowing-style
    document fingerprint; md5 spells identically in DuckDB so the
    sketch itself is oracle-checked)."""
    return text.fingerprint(
        t(spark, sf_dir, "documents"), "text", "doc_id", shingle_n=3, k=4
    )


@query(
    "q_corpus_mix",
    oracle="""
        WITH d AS (
            SELECT source,
                   len(string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                       ' ')) AS ntok
            FROM documents
        ),
        agg AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(ntok) AS BIGINT) AS n_tokens
            FROM d GROUP BY 1
        )
        SELECT source, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE)
                     / (SELECT SUM(n_tokens) FROM agg), 6) AS token_share
        FROM agg
    """,
)
def q_corpus_mix(spark, sf_dir):
    """Corpus mixture report: docs, tokens and token share per source —
    the planning input for mixture reweighting.  One hash-agg; the
    total rides as a broadcast 1-row aggregate."""
    d = t(spark, sf_dir, "documents").select(
        "source", F.size(dedup.words("text")).cast("long").alias("ntok")
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("ntok").alias("n_tokens")
    )
    tot = agg.agg(F.sum("n_tokens").alias("tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot"), 6).alias("token_share"),
    )


@query(
    "q_sample_stratified",
    oracle="""
        SELECT doc_id, source FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
              CASE source WHEN 'src0' THEN 'ff'
                          WHEN 'src1' THEN '7f'
                          WHEN 'src2' THEN '3f'
                          ELSE '1f' END
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Deterministic per-source downsampling (corpus mixing): keep
    100% of src0, 50% of src1, 25% of src2, 12.5% elsewhere, decided
    by an md5-prefix threshold — reproducible, shuffle-free, stable
    under corpus growth."""
    return curation.stratified_sample(
        t(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.125,
    )


@query(
    "q_lang_id_eval",
    oracle=f"""
        WITH {_W},
        r AS (
            SELECT doc_id, {_R_EN} AS r_en, {_R_DE} AS r_de, {_R_FR} AS r_fr
            FROM w
        ),
        pred AS (
            SELECT doc_id,
                   CASE WHEN greatest(r_en, r_de, r_fr) >= 0.02 THEN
                        CASE WHEN r_fr > greatest(r_en, r_de) THEN 'fr'
                             WHEN r_de > r_en THEN 'de'
                             ELSE 'en' END
                   ELSE 'und' END AS pred_lang
            FROM r
        )
        SELECT d.lang, p.pred_lang, COUNT(*) AS n
        FROM documents d JOIN pred p USING (doc_id)
        GROUP BY 1, 2
    """,
)
def q_lang_id_eval(spark, sf_dir):
    """Confusion matrix of the heuristic language-ID against the
    corpus's ground-truth ``lang`` column — the eval loop every
    classifier-driven curation step needs.  The classifier is a few
    projections over the scan (text.lang_pred_exprs), so prediction
    and truth ride ONE corpus scan into one hash-agg — the former doc_id
    self-join (a second scan + two shuffles) measured 2x the cost for
    identical output."""
    docs, pred, _ = text.lang_pred_exprs(t(spark, sf_dir, "documents"), "text")
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Shared by the exact-pair query and its LSH twin (tests pin the two
# composed pipelines row-for-row equal on the bundled corpora:
# test_lsh_twin_queries_equal_exact_on_bundled_corpus).
_CONTAMINATION_ORACLE = f"""
        WITH {_W_CAP}, {_SH},
        e0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
        n AS (SELECT doc_id, COUNT(*) AS n FROM e0 GROUP BY 1),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM e0 a JOIN e0 b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pj AS (
            SELECT doc_a, doc_b,
                   round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
            FROM p
            JOIN n na ON na.doc_id = doc_a
            JOIN n nb ON nb.doc_id = doc_b
            WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= 0.5
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
                        THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e'
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT pj.doc_a, sa.split AS split_a,
               pj.doc_b, sb.split AS split_b, pj.jaccard
        FROM pj
        JOIN s sa ON sa.doc_id = pj.doc_a
        JOIN s sb ON sb.doc_id = pj.doc_b
        WHERE sa.split != sb.split
"""


@query("q_contamination", oracle=_CONTAMINATION_ORACLE)
def q_contamination(spark, sf_dir):
    """Train/eval contamination detection: near-duplicate pairs
    (word-3-gram Jaccard ≥ 0.5) whose members fall in DIFFERENT
    splits — the leakage check run before any eval is trusted.

    ORACLE TWIN: the exact shared-shingle pair generator (capped at
    _PAIR_CAP docs) so parity with the all-pairs oracle is
    deterministic; the uncapped MinHash-LSH composition is
    q_contamination_lsh below."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs.filter(F.col("doc_id") < _PAIR_CAP),
        "text",
        "doc_id",
        n=3,
        threshold=0.5,
    )
    return _contamination_join(docs, pairs)


def _contamination_join(docs, pairs):
    """Shared tail of the contamination check: attach each pair
    member's deterministic split, keep cross-split pairs."""
    splits = curation.split_assign(docs, "doc_id")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "split_a", "doc_b", "split_b", "jaccard")
    )


@query("q_contamination_lsh", oracle=_uncapped(_CONTAMINATION_ORACLE))
def q_contamination_lsh(spark, sf_dir):
    """The 100 TB spelling of q_contamination: MinHash-LSH candidates +
    exact Jaccard verify (O(docs × bands) shuffle, no all-pairs stage)
    composed with the same split assignment.  Oracle: the exact
    twin's SQL — the composed pipelines are row-for-row equal on the
    bundled corpora (pinned in tests/test_llm_ops.py::
    test_lsh_twin_queries_equal_exact_on_bundled_corpus) and the hash
    compare is deterministic (seeded hashing, no RNG); on adversarial
    J≈0.5 data LSH recall < 1 by the S-curve, so the oracle certifies
    corpus-level equality, not an identity."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, verify_threshold=0.5
    )
    return _contamination_join(docs, pairs)


@query(
    "q_redact",
    oracle=r"""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   'https?://[^ ]+', '<URL>', 'g') AS redacted,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0))
                   AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^ ]+', 0))
                   AS INTEGER) AS n_urls
        FROM documents
    """,
)
def q_redact(spark, sf_dir):
    """PII scrub: emails and URLs replaced with typed placeholder
    tokens, with per-doc match counts — the cleaning step before
    training-data release.  Scan-speed regexp_replace, no shuffle."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^ ]+"
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), url, "<URL>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(url), F.lit(0))).alias(
            "n_urls"
        ),
    )


@query(
    "q_histogram",
    oracle="""
        WITH b AS (
            SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER)
                   AS bucket
            FROM orders
        )
        SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram of order value (10 × 50k buckets, last
    open-ended) — the profiling primitive; one scan + tiny hash-agg."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_profile",
    oracle="""
        SELECT 'o_totalprice' AS column_name,
               COUNT(*) AS n_rows,
               COUNT(o_totalprice) AS n_nonnull,
               COUNT(DISTINCT o_totalprice) AS n_distinct,
               round(MIN(o_totalprice), 6) AS min_v,
               round(MAX(o_totalprice), 6) AS max_v
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
               COUNT(DISTINCT o_custkey),
               round(MIN(o_custkey), 6), round(MAX(o_custkey), 6)
        FROM orders
    """,
)
def q_profile(spark, sf_dir):
    """Column profiler (rows / non-null / distinct / min / max per
    column) — the data-quality report, one aggregate pass per column
    batch.  Exact distincts here; the sketch twin is q_agg_sketch."""
    o = t(spark, sf_dir, "orders")

    def prof(c):
        return o.agg(
            F.lit(c).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(c).alias("n_nonnull"),
            F.countDistinct(c).alias("n_distinct"),
            F.round(F.min(c).cast("double"), 6).alias("min_v"),
            F.round(F.max(c).cast("double"), 6).alias("max_v"),
        )

    return prof("o_totalprice").unionAll(prof("o_custkey"))


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "q_media_metadata",
    oracle="""
        SELECT source, COUNT(*) AS n_media,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents GROUP BY 1
    """,
)
def q_media_metadata(spark, sf_dir):
    """The multimodal scan contract, oracle-checked: the media table
    (binary payload + typed metadata struct) is written to parquet and
    a metadata-only aggregate reads it back — parquet column pruning
    keeps payload bytes out of the scan entirely (asserted from
    ReadSchema in tests/test_plans.py), which is what makes a 100 TB
    media table queryable at metadata speed.  Oracle recomputes the
    same stats from the documents source of truth."""
    import os
    import tempfile

    out = os.path.join(tempfile.mkdtemp(prefix="tpms_media_"), "media")
    multimodal.media_table(spark, sf_dir).write.mode("overwrite").parquet(out)
    m = spark.read.parquet(out)
    return (
        m.select(
            F.col("meta.source").alias("source"),
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


def _byte_hist_oracle() -> str:
    """The byte-histogram featurizer re-derived in SQL: bin(byte) =
    byte // 16 = the byte's HIGH HEX NIBBLE, so the 16-bin histogram
    is the frequency of each hex digit at the odd positions of
    hex(payload) — extracted by collapsing each hex pair to its first
    char.  Counts are exact integers, so the oracle never touches
    float formatting; the argmax bin is the FIRST index attaining the
    max (list_position = first occurrence, matching Python max())."""
    nibbles = "0123456789ABCDEF"
    counts = ",\n                   ".join(
        f"len(hi) - len(replace(hi, '{c}', '')) AS c{i}"
        for i, c in enumerate(nibbles)
    )
    lst = "list_value(" + ", ".join(f"c{i}" for i in range(16)) + ")"
    return f"""
        WITH h AS (
            SELECT doc_id,
                   regexp_replace(hex(encode(text)), '(.).', '\\1', 'g')
                       AS hi,
                   octet_length(encode(text)) AS n
            FROM documents
        ),
        c AS (
            SELECT doc_id, n,
                   {counts}
            FROM h
        )
        SELECT doc_id AS media_id,
               'text/plain;fake-image' AS mime,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(list_position({lst}, list_max({lst})) - 1 AS INTEGER)
                   AS byte_entropy_bin,
               array_to_string({lst}, '|') AS byte_counts_csv
        FROM c
    """


@query("q_multimodal_features", oracle=_byte_hist_oracle())
def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload + typed metadata struct →
    Arrow-batched mapInPandas feature extraction (deterministic fake
    standing in for the decode step — codecs absent in this env).

    Oracle: the byte-histogram fallback is closed-form over the
    payload bytes (bin = high hex nibble), so DuckDB re-derives the
    histogram by counting nibbles in hex(payload).  The registered
    output serializes the EXACT integer counts (recovered from the
    normalized float vector via round(f*n_bytes) — lossless, the
    float is k/n with k ≤ n ≤ payload bytes) rather than fixed-point
    floats: integer strings hash identically with no HALF_UP-vs-
    half-even formatter skew, and row-oriented canonicalizers can't
    hash list cells anyway (a driver crash).  Downstream
    pipelines use the operator directly and keep the real normalized
    array.  The synthesized text payloads never parse as images, so
    the byte fallback is the computed path with or without codecs
    installed — the oracle does not depend on the PIL boundary."""
    feats = multimodal.extract_features(multimodal.media_table(spark, sf_dir))
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "byte_entropy_bin",
        F.array_join(
            F.transform(
                "features",
                lambda x: F.round(x * F.col("n_bytes"))
                .cast("long")
                .cast("string"),
            ),
            "|",
        ).alias("byte_counts_csv"),
    )


@query(
    "q_frame_sample",
    # The sampled frames are pure byte arithmetic over the synthesized
    # payload (UTF-8 bytes of the document text), so DuckDB re-derives
    # them by slicing the payload's hex spelling: 2 hex chars per
    # byte ⇒ byte offset k, length 16 ≡ hex offset 2k+1, length 32.
    # A NULL text yields a NULL offsets list on both sides (unnest
    # drops it, matching posexplode); an empty text yields one frame
    # at offset 0 with empty bytes on both sides.
    oracle="""
        SELECT media_id, frame_idx, byte_offset,
               substring(ph, byte_offset * 2 + 1, 32) AS frame_hex
        FROM (
            SELECT media_id, ph,
                   CAST(unnest(generate_series(1, len(offs))) - 1
                        AS INTEGER) AS frame_idx,
                   unnest(offs) AS byte_offset
            FROM (
                SELECT doc_id AS media_id, hex(encode(text)) AS ph,
                       list_slice(
                           generate_series(
                               0,
                               greatest(octet_length(encode(text)) - 1, 0),
                               64),
                           1, 8) AS offs
                FROM documents
            )
        )
    """,
)
def q_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: posexplode sampled byte offsets of each
    payload, slice bytes per frame — pure JVM, no Python.  Oracle:
    the payload is the deterministic UTF-8 encoding of the
    document text, so the 16-byte frames at every 64-byte offset are
    closed-form — the registered query returns the frame as hex
    (DuckDB BLOBs surface as unhashable bytearrays in the driver's
    canonicalizer; the operator itself keeps real binary)."""
    frames = multimodal.frame_sample(multimodal.media_table(spark, sf_dir))
    return frames.select(
        "media_id",
        "frame_idx",
        "byte_offset",
        F.hex("frame_bytes").alias("frame_hex"),
    )


# BM25 top-20 as a reusable CTE block (same fixed 3-term query):
# q_bm25's oracle SELECTs from it directly; q_rank_fusion's oracle
# fuses its ranks with the cosine ranks.
_BM25_TOP = f"""
        {_W},
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok
            WHERE term IN ('merge', 'scan', 'window') GROUP BY 1, 2
        ),
        dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
        s AS (
            SELECT tf.doc_id,
                   CAST(round(
                       ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
                       * tf * (1.2 + 1.0)
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
                              (CAST(total_dl AS DOUBLE) / n_docs))),
                       6) AS DECIMAL(18,6)) AS w_term
            FROM tf
            JOIN dfreq USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN corpus
        ),
        agg AS (
            SELECT doc_id, CAST(SUM(w_term) AS DOUBLE) AS score
            FROM s GROUP BY 1
        ),
        top AS (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 20)
"""


@query(
    "q_bm25",
    oracle=f"""
        WITH {_BM25_TOP}
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
                   AS rank
        FROM top
    """,
)
def q_bm25(spark, sf_dir):
    """BM25 keyword retrieval (Lucene "+1" idf): top-20 documents for a
    fixed 3-term query over the corpus — the ranking complement of
    q_tfidf's per-doc term weighting.  See operators/text.py:bm25_topk
    for the plan shape (filtered tf shuffle, broadcast corpus stats,
    TakeOrderedAndProject top-k); constants appear as identical
    unfolded expressions on both engines so the doubles match
    bit-for-bit."""
    return text.bm25_topk(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        ("merge", "scan", "window"),
        k1=1.2,
        b=0.75,
        k=20,
    )


@query(
    "q_rank_fusion",
    oracle=f"""
        WITH {_BM25_TOP},
        bm AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS bm25_rank
            FROM top
        ),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        c AS (
            SELECT e.vec_id AS doc_id,
                   round({_cos("e.embedding", "q.qe")}, 6) AS sim
            FROM embeddings e, q WHERE e.vec_id <> 0
        ),
        ct AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
                        AS INT) AS cos_rank
            FROM (SELECT * FROM c ORDER BY sim DESC, doc_id LIMIT 20)
        ),
        f AS (
            SELECT COALESCE(bm.doc_id, ct.doc_id) AS doc_id,
                   bm25_rank, cos_rank
            FROM bm FULL OUTER JOIN ct ON bm.doc_id = ct.doc_id
        )
        SELECT doc_id,
               round(COALESCE(1.0 / (60 + bm25_rank), 0)
                     + COALESCE(1.0 / (60 + cos_rank), 0), 6) AS rrf_score,
               bm25_rank, cos_rank,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY COALESCE(1.0 / (60 + bm25_rank), 0)
                            + COALESCE(1.0 / (60 + cos_rank), 0) DESC,
                            doc_id) AS INT) AS fused_rank
        FROM f
    """,
)
def q_rank_fusion(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion: the BM25
    top-20 (q_bm25's exact list) fused with the embedding-cosine
    top-20 for document 0's vector (doc_id ≡ vec_id in the bundled
    corpus) by the standard RRF score Σ 1/(60 + rank) — the
    rank-space combiner that needs no score normalization between a
    lexical and a vector retriever.  Each side is an existing
    scale-proven plan (bm25_topk's broadcast-stats top-k;
    brute_force_topk's one-pass matmul — swap in ann_topk for the
    uncapped corpus); the fusion itself touches ≤ 40 rows, so the
    full-outer join and final rank are driver-trivial at any corpus
    size.  The RRF sum has exactly two addends, so engine float
    parity is exact."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    bm = text.bm25_topk(
        docs, "text", "doc_id", ("merge", "scan", "window"),
        k1=1.2, b=0.75, k=20,
    ).select("doc_id", F.col("rank").alias("bm25_rank"))
    cos = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    )
    # ≤ 20 rows: the unpartitioned rank windows below are bounded by
    # k, never by corpus size
    cos_r = cos.select(
        F.col("n_vec").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("n_vec")))
        .alias("cos_rank"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("cos_rank")), F.lit(0.0))
    return (
        bm.join(cos_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(rrf, 6).alias("rrf_score"),
            "bm25_rank",
            "cos_rank",
            F.row_number()
            .over(Window.orderBy(rrf.desc(), F.asc("doc_id")))
            .alias("fused_rank"),
        )
    )


@query(
    "q_interleave_sources",
    oracle="""
        WITH r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        i AS (
            SELECT source,
                   ROW_NUMBER() OVER (ORDER BY source) AS src_idx
            FROM (SELECT DISTINCT source FROM documents)
        ),
        n AS (SELECT COUNT(*) AS n_src FROM i)
        SELECT doc_id, source, CAST(rn AS INT) AS rn,
               CAST((rn - 1) * n_src + src_idx AS BIGINT) AS pos
        FROM r JOIN i USING (source) CROSS JOIN n
    """,
)
def q_interleave_sources(spark, sf_dir):
    """Deterministic round-robin interleave across corpus sources — the
    epoch-schedule builder for a training mix (doc j of source s lands
    at global position (j−1)·n_src + idx(s)).

    Scale shape: the naive plan is a GLOBAL row_number over (rn,
    source) — a single-partition sort at 100 TB.  The closed form here
    needs only the per-source window (parallel over sources) plus two
    broadcast-sized side inputs (source→idx map, source count): every
    position is computed locally, no global shuffle, and the output can
    be range-partitioned on pos for the downstream shard writer."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = docs.select("source").distinct()
    # single-partition window over the DISTINCT sources only (a
    # broadcast-sized dim, ~dozens of rows at any sf)
    idx = srcs.select(
        "source", F.row_number().over(Window.orderBy("source")).alias("src_idx")
    )
    nsrc = srcs.agg(F.count(F.lit(1)).alias("n_src"))
    rn_w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(rn_w).alias("rn"))
        .join(F.broadcast(idx), "source")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "doc_id",
            "source",
            "rn",
            ((F.col("rn") - 1).cast("bigint") * F.col("n_src") + F.col("src_idx"))
            .alias("pos"),
        )
    )


@query(
    "q_vector_norm",
    oracle=f"""
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               round(sqrt({_DOT.format(a='embedding', b='embedding')}), 6)
                   AS l2,
               round(CAST(embedding[1] AS DOUBLE) /
                     CASE WHEN sqrt({_DOT.format(a='embedding', b='embedding')}) = 0.0
                          THEN 1.0
                          ELSE sqrt({_DOT.format(a='embedding', b='embedding')})
                     END, 6) AS u0
        FROM embeddings
    """,
)
def q_vector_norm(spark, sf_dir):
    """Embedding hygiene: per-vector L2 norm, dimension check, and the
    first unit-normalized component (zero vectors normalize against 1
    instead of emitting NaN — the same guard brute_force_topk applies).
    Norms use the deterministic index-order fold (operators/
    similarity.py:dot) so both engines sum in the same order.  One
    narrow projection, no shuffle: at 100 TB this is a pure map stage
    ahead of any ANN index build."""
    nrm = similarity.l2_norm(F.col("embedding"))
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(nrm, 6).alias("l2"),
        F.round(
            F.element_at("embedding", 1).cast("double")
            / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
            6,
        ).alias("u0"),
    )


@query(
    "q_collocations",
    oracle=f"""
        WITH {_W},
        bg AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(ws) - 1), i -> ws[i])) AS w1,
                   unnest(list_transform(
                       generate_series(1, len(ws) - 1), i -> ws[i+1])) AS w2
            FROM w WHERE len(ws) >= 2
        ),
        cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
        uni AS (
            SELECT wd, COUNT(*) AS c
            FROM (SELECT unnest(ws) AS wd FROM w) GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT SUM(c) FROM uni) AS nu,
                   (SELECT SUM(c_ab) FROM cab) AS nb
        )
        SELECT w1, w2, c_ab, u1.c AS c_1, u2.c AS c_2,
               round(ln((CAST(c_ab AS DOUBLE) / nb)
                        / ((CAST(u1.c AS DOUBLE) / nu)
                           * (CAST(u2.c AS DOUBLE) / nu))), 4) + 0.0 AS pmi
        FROM cab
        JOIN uni u1 ON cab.w1 = u1.wd
        JOIN uni u2 ON cab.w2 = u2.wd
        CROSS JOIN tot
        WHERE c_ab >= 5
    """,
)
def q_collocations(spark, sf_dir):
    """Bigram collocations by PMI (≥5 mentions): the phrase detector
    feeding tokenizer merge rules and boilerplate lists.  Bigrams come
    from a JVM array transform exploded once (no per-doc window); both
    count tables shuffle bounded by vocabulary, not corpus; totals are
    broadcast 1-row aggs; PMI inputs are exact integers so the double
    log is bit-identical across engines."""
    return text.collocation_pmi(
        t(spark, sf_dir, "documents"), "text", "doc_id", min_count=5
    )


@query("q_ann_pq")
def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (8 subspaces × 256 codes — the
    textbook FAISS-PQ layout, 8 bits per code): corpus encoded to
    8 bytes/vector (32× under the raw float32), queries score by ADC
    table lookups, exact re-rank on the surviving candidates.  The
    third ANN index family next to LSH and IVF — PQ is the one whose
    index state is tens of times smaller than the vectors, the
    property that matters when the corpus is 100 TB.  Rows-only
    (approximate by design) — and, like q_ann_ivf, the output stamps
    MEASURED per-query recall_at_k vs the exact brute-force twin,
    so the rows-only driver check sees answer quality, not
    just row counts.

    Knobs: a 4×16 toy codebook measured recall 0.66/0.70/
    0.34 across the bundled tiers; 8×256 with a 10× re-rank measures
    1.0/1.0/0.96 (and 1.0 at the 25× stress replica), floor ≥0.9
    pinned in tests — ADC resolution, not re-rank depth, was the
    binding constraint."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return _stamp_recall_at_k(
        similarity.pq_topk(
            e, q, m=8, ksub=256, k=10, rerank_factor=10
        ).localCheckpoint(eager=False),
        similarity.brute_force_topk(e, q, k=10),
    )


_CONTAINMENT_ORACLE = f"""
        WITH {_W_CAP}, {_SH},
        e AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
        n AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(i AS DOUBLE) / na.n, 6) AS cont_ab,
               round(CAST(i AS DOUBLE) / nb.n, 6) AS cont_ba
        FROM p
        JOIN n na ON na.doc_id = doc_a
        JOIN n nb ON nb.doc_id = doc_b
        WHERE round(CAST(i AS DOUBLE) / na.n, 6) >= 0.8
           OR round(CAST(i AS DOUBLE) / nb.n, 6) >= 0.8
"""


@query("q_dedup_containment", oracle=_CONTAINMENT_ORACLE)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric shingle-containment near-dup pairs (either direction
    ≥ 0.8): the sub-document-inclusion detector Jaccard misses — a
    paragraph pasted into a much larger page is near-invisible to
    Jaccard (huge union) but containment ≈ 1 from the small side.
    Input capped at _PAIR_CAP docs (verify-twin contract, like
    q_dedup_ngram); at 100 TB the pair source is MinHash-LSH."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_CAP)
    return dedup.ngram_containment_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8
    )


@query(
    "q_sample_reservoir",
    oracle="""
        WITH r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents
        )
        SELECT doc_id, source, CAST(rk AS INT) AS rk
        FROM r WHERE rk <= 20
    """,
)
def q_sample_reservoir(spark, sf_dir):
    """Deterministic exact-k per-group sample (k=20 per source): rank
    by the md5 of the id — a uniform permutation both engines compute
    identically — and keep the first k.  The reproducible analog of
    per-group reservoir sampling (q_sample_stratified is the
    Bernoulli-rate twin; this one guarantees exact group sizes).
    Executes as WindowGroupLimit: per-partition heaps keep k rows per
    source BEFORE the exchange, so the shuffle carries k·|sources|
    rows regardless of corpus size."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
    )


@query("q_dedup_semantic")
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic deduplication: k-means the embedding
    space (k=16), then WITHIN each cluster drop members whose cosine
    to the cluster's representative (min id) exceeds 0.95 — semantic
    near-dups that share no n-grams, the dedup family exact/MinHash/
    SimHash all miss.  The pairwise stage is per-cluster against ONE
    representative (O(corpus), not O(corpus²)); the cluster fit is
    the same distributed Lloyd loop as q_kmeans.  Rows-only
    (iterative float fit); output = (vec_id, cluster, keep flag,
    cos_to_rep), so the rows-only check sees the decision, not just
    labels."""
    from tmp_parquet_merge_spark.operators.similarity import (
        dot_udf,
        kmeans_fit,
        unit_udf,
    )

    e = t(spark, sf_dir, "embeddings")
    norm = e.select(
        "vec_id", unit_udf()(F.col("embedding")).alias("embedding")
    ).localCheckpoint(eager=False)
    assigned = kmeans_fit(norm, k=16, max_iter=5).localCheckpoint(
        eager=False
    )
    members = norm.join(assigned, "vec_id")
    from pyspark.sql import Window

    rep_ids = assigned.groupBy("cluster").agg(
        F.min("vec_id").alias("rep_id")
    )
    reps = (
        rep_ids.join(
            norm.select(
                F.col("vec_id").alias("rep_id"),
                F.col("embedding").alias("rep_emb"),
            ),
            "rep_id",
        )
    )
    scored = members.join(F.broadcast(reps), "cluster").select(
        "vec_id",
        "cluster",
        dot_udf(6)(F.col("embedding"), F.col("rep_emb")).alias("cos_to_rep"),
        F.col("rep_id"),
    )
    return scored.select(
        "vec_id",
        "cluster",
        "cos_to_rep",
        (
            (F.col("vec_id") == F.col("rep_id"))
            | (F.col("cos_to_rep") <= 0.95)
        ).cast("int").alias("keep"),
    )


@query(
    "q_media_dedup",
    oracle="""
        SELECT sha256(text) AS content_sha,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_dupes,
               CAST(SUM(octet_length(encode(text))) AS BIGINT)
                   AS total_bytes
        FROM documents
        GROUP BY 1
    """,
)
def q_media_dedup(spark, sf_dir):
    """Binary-payload exact dedup: group the media table by
    sha2(payload) — the object-store dedup primitive (same 32-byte-
    digest shuffle contract as text exact dedup, but over raw bytes;
    at 100 TB of images this is the first pass before any perceptual
    hash).  Oracle recomputes the digests from the documents source
    of truth (payload = UTF-8 bytes of text, so sha2 over the payload
    equals sha256 over the text)."""
    m = multimodal.media_table(spark, sf_dir)
    return (
        m.select(
            F.sha2(F.col("payload"), 256).alias("content_sha"),
            F.col("media_id"),
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .groupBy("content_sha")
        .agg(
            F.min("media_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


@query(
    "q_media_neardup",
    oracle="""
        WITH s AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS ph,
                   length(hex(encode(text))) AS H
            FROM documents WHERE text IS NOT NULL
        ), m AS (
            SELECT media_id, list_transform(range(64), b ->
                length(regexp_replace(
                    substring(ph, ((H*b)//64) + 1,
                              ((H*(b+1))//64) - ((H*b)//64)),
                    '[0-7]', '', 'g'))) AS mv
            FROM s
        ), bits AS (
            SELECT media_id, list_transform(range(64), i ->
                CASE WHEN mv[i+1] > mv[((i+1)%64)+1] THEN 1 ELSE 0 END
            ) AS bv
            FROM m
        ), sig AS (
            SELECT media_id,
                CAST(list_sum(list_transform(range(32),
                    i -> bv[i+1]  * (1::BIGINT << i))) AS BIGINT) AS lo,
                CAST(list_sum(list_transform(range(32),
                    i -> bv[i+33] * (1::BIGINT << i))) AS BIGINT) AS hi
            FROM bits
        )
        SELECT a.media_id AS media_a, b.media_id AS media_b,
               CAST(bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.lo, b.lo))
              + bit_count(xor(a.hi, b.hi)) <= 10
    """,
)
def q_media_neardup(spark, sf_dir):
    """Perceptual near-dup over multimodal payloads (the one dedup
    family q_media_dedup's exact sha2 missed): 64-bit
    blockhash-gradient signature per payload (operators/multimodal.py
    :func:`blockhash_signatures` — block scores over hex(payload),
    dHash-style gradient bits; public technique: blockhash.io, Yang
    et al. 2006, Krawetz dHash), multi-index Hamming-ball candidate
    join (Norouzi et al. CVPR 2012: 4 disjoint 16-bit bands, each
    probing its Hamming-2 ball — pigeonhole-EXACT for radius 10, and
    9.4× fewer background candidates than an 11-band f=0 spelling,
    whose candidate relation measured 36% of ALL pairs),
    exact Hamming verify ≤ 10.  Deterministic output, hence the
    closed-form DuckDB oracle (the q_multimodal_features hex(payload)
    protocol) — the band layout is plan-only, the pair set is
    identical.  Scale shape: one payload scan → 2 longs + 4 ints per
    item; shuffles carry only (band, key, id) ints and id pairs;
    verify is JVM bit_count on packed longs.  Non-degenerate at every
    tier (1/2/198 pairs at sf0.001/0.01/0.1).  On real images the
    hex-block score swaps for a decoded block mean without touching
    the banding/verify plumbing (the module's PIL-optional
    contract)."""
    return multimodal.media_neardup_pairs(
        multimodal.media_table(spark, sf_dir), radius=10, bands=4
    )


@query(
    "q_bpe_merge",
    oracle=f"""
        WITH {_W},
        u AS (
            SELECT wd, COUNT(*) AS c
            FROM (SELECT unnest(ws) AS wd FROM w) GROUP BY 1
        ),
        p AS (
            SELECT unnest(list_transform(
                       generate_series(1, length(wd) - 1),
                       i -> substr(wd, i, 2))) AS pair,
                   c
            FROM u WHERE length(wd) >= 2
        )
        SELECT pair, CAST(SUM(c) AS BIGINT) AS n
        FROM p GROUP BY 1
        ORDER BY n DESC, pair
        LIMIT 50
    """,
)
def q_bpe_merge(spark, sf_dir):
    """One BPE-tokenizer merge round: corpus-weighted adjacent
    character-pair frequencies, top-50 — the inner loop of tokenizer
    training (the winning pair becomes the next merge rule).  Two-level
    aggregation keeps it corpus-size-proof: word counts first (corpus →
    vocabulary hash-agg), then char pairs expand only the VOCABULARY
    (the array transform here is safe — it runs over distinct words,
    not corpus rows).  Ties rank lexicographically so both engines
    agree."""
    from tmp_parquet_merge_spark.operators.dedup import words

    u = (
        t(spark, sf_dir, "documents")
        .select(F.explode(words("text")).alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.length("wd") >= 2)
    )
    # dynamic-start substring needs the SQL spelling (the Python
    # Column.substr form takes literal positions only)
    pairs = u.select(
        F.explode(
            F.expr("transform(sequence(1, length(wd) - 1),"
                   " i -> substring(wd, i, 2))")
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled ``n_merges``-round BPE training as one DuckDB query —
    round-for-round the SQL spelling of text.bpe_train (the q_pagerank
    fixed-iteration oracle discipline).  Each round k: pair counts
    from round k-1's vocabulary representation, the (count DESC, pair
    ASC) argmax as a 1-row CTE, then the greedy left-to-right
    non-overlapping merge applied via ``list_reduce`` over a
    space-separated symbol string (symbols never contain spaces —
    words are whitespace-split — so suffix-compare against
    ``' ' || lhs`` aligns exactly with the last whole symbol, the same
    invariant Spark's array fold uses via element_at(acc, -1))."""
    cte = [
        _W.strip(),
        """u AS (
            SELECT wd, COUNT(*) AS c
            FROM (SELECT unnest(ws) AS wd FROM w)
            WHERE length(wd) >= 1 GROUP BY 1
        )""",
    ] + _bpe_round_ctes(n_merges)
    union = "\n            UNION ALL ".join(
        f"SELECT * FROM m{k}" for k in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n        ".join(cte)
        + f"""
        SELECT CAST(step AS INTEGER) AS step,
               string_split(pair, ' ')[1] AS lhs,
               string_split(pair, ' ')[2] AS rhs,
               replace(pair, ' ', '') AS merged, n
        FROM ({union})
        ORDER BY step"""
    )


def _bpe_round_ctes(n_merges: int) -> list[str]:
    """The shared v0/p{k}/m{k}/v{k} round CTEs over a ``u`` (wd, c)
    histogram CTE — assembled by both the train and apply oracles."""
    cte = [
        """v0 AS (
            SELECT wd, c,
                   ' ' || array_to_string(string_split(wd, ''), ' ') AS s
            FROM u
        )""",
    ]
    for k in range(1, n_merges + 1):
        cte.append(f"""p{k} AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i + 1])) AS pair, c
            FROM (SELECT string_split(substr(s, 2), ' ') AS l, c
                  FROM v{k - 1})
            WHERE len(l) >= 2
        )""")
        cte.append(f"""m{k} AS (
            SELECT {k} AS step, pair, CAST(SUM(c) AS BIGINT) AS n
            FROM p{k} GROUP BY pair ORDER BY n DESC, pair LIMIT 1
        )""")
        # LEFT JOIN ON TRUE, not CROSS JOIN: when round k's pair space
        # is exhausted m{k} is EMPTY, and a cross join would empty
        # v{k} and every later round — the apply oracle would then
        # return zero rows while Spark's loop break keeps the last
        # symbolization.  With the left join an
        # empty m{k} leaves s unchanged, matching the break exactly
        # (p{k+1} recomputes the same pairs, m{k+1} stays empty).
        cte.append(f"""v{k} AS (
            SELECT t.wd, t.c,
                   CASE WHEN m.pair IS NULL THEN t.s ELSE
                   list_reduce(
                       list_prepend('', string_split(substr(t.s, 2), ' ')),
                       (acc, x) -> CASE
                           WHEN x = string_split(m.pair, ' ')[2]
                            AND right(acc,
                                  length(string_split(m.pair, ' ')[1]) + 1)
                                = ' ' || string_split(m.pair, ' ')[1]
                           THEN left(acc, length(acc)
                                  - length(string_split(m.pair, ' ')[1]) - 1)
                                || ' ' || replace(m.pair, ' ', '')
                           ELSE acc || ' ' || x END) END AS s
            FROM v{k - 1} t LEFT JOIN m{k} m ON TRUE
        )""")
    return cte


def _bpe_apply_oracle(n_merges: int) -> str:
    """The APPLY oracle: the same round CTEs fitted on the corpus-wide
    histogram (re-aggregated from the per-source one, as Spark does),
    final symbolization joined back to (source, wd, cnt), per-source
    BIGINT word/token sums and the IEEE fertility division."""
    cte = [
        r"""sw AS (
            SELECT source, wd, COUNT(*) AS cnt FROM (
                SELECT source,
                       unnest(string_split(regexp_replace(
                           lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS wd
                FROM documents)
            WHERE length(wd) >= 1 GROUP BY 1, 2
        )""",
        """u AS (
            SELECT wd, CAST(SUM(cnt) AS BIGINT) AS c FROM sw GROUP BY 1
        )""",
    ] + _bpe_round_ctes(n_merges)
    return (
        "WITH "
        + ",\n        ".join(cte)
        + f"""
        SELECT t.source,
               CAST(SUM(t.cnt) AS BIGINT) AS n_words,
               CAST(SUM(t.cnt * len(string_split(substr(v.s, 2), ' ')))
                    AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(t.cnt * len(string_split(substr(v.s, 2), ' ')))
                          AS BIGINT)
                     / CAST(SUM(t.cnt) AS BIGINT), 6) AS fertility
        FROM sw t JOIN v{n_merges} v USING (wd)
        GROUP BY 1 ORDER BY 1"""
    )


@query("q_bpe_apply", oracle=_bpe_apply_oracle(8))
def q_bpe_apply(spark, sf_dir):
    """The APPLY half of BPE training (the engine's blacklist-APPLIED
    pattern): tokenize the corpus under the 8-rule tokenizer
    q_bpe_train fits on the same corpus and report per-source token
    economics — words, BPE tokens, fertility (tokens/word), the
    number that shows which source pays the most subword splits.
    One corpus scan → (source, word, cnt) hash-agg; the training
    histogram is its re-aggregation (no second scan); everything
    after is vocabulary × sources-bounded
    (operators/text.py::bpe_apply)."""
    return text.bpe_apply(
        t(spark, sf_dir, "documents"), "text", "source", n_merges=8
    )


@query("q_bpe_train", oracle=_bpe_train_oracle(8))
def q_bpe_train(spark, sf_dir):
    """Multi-round BPE tokenizer training: 8 fixed
    merge rounds over the documents corpus — the iterative form of
    q_bpe_merge's single step, completing the tokenizer family
    (fertility / perplexity / vocab / single-merge already exist).
    Returns the merge table itself (step, lhs, rhs, merged, n); at
    sf0.001 round 8 already merges a multi-character symbol
    ('p' + 'ar'), so the iteration is structurally exercised at every
    tier.  Scale: one corpus scan reduces to the word histogram;
    every round after is vocabulary-sized with a 1-row argmax collect
    (operators/text.py::bpe_train — the q_pagerank loop discipline).
    Reference surface: wesm/tmp-parquet-merge has no tokenizer; this
    extends the mandated LLM-pipeline family."""
    return text.bpe_train(t(spark, sf_dir, "documents"), "text", n_merges=8)


@query(
    "q_lm_score",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        cf AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY 1),
        tot AS (SELECT SUM(cf) AS total FROM cf),
        s AS (
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(CAST(round(tf * ln(CAST(cf AS DOUBLE) / total), 6)
                            AS DECIMAL(18,6))) AS s
            FROM tf JOIN cf USING (term) CROSS JOIN tot
            GROUP BY 1
        )
        SELECT doc_id, n_tokens,
               round(CAST(s AS DOUBLE) / n_tokens, 6) AS lm_score
        FROM s
    """,
)
def q_lm_score(spark, sf_dir):
    """Unigram language-model quality scoring: mean ln p(token) per
    document under the corpus's own unigram distribution — the cheap
    perplexity-style filter LLM pipelines run before an expensive
    model-based one.  The "model" (term→frequency) is fit and applied
    in one lazy plan; shuffles are vocabulary-bounded (operators/
    text.py::unigram_lm_score)."""
    return text.unigram_lm_score(
        t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query(
    "q_dedup_canonical",
    oracle=f"""
        WITH RECURSIVE {_W_CAP}, {_SH},
        e0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
        n AS (SELECT doc_id, COUNT(*) AS n FROM e0 GROUP BY 1),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM e0 a JOIN e0 b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pj AS (
            SELECT doc_a, doc_b FROM p
            JOIN n na ON na.doc_id = doc_a
            JOIN n nb ON nb.doc_id = doc_b
            WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= 0.5
        ),
        ed AS (
            SELECT doc_a AS a, doc_b AS b FROM pj
            UNION ALL
            SELECT doc_b, doc_a FROM pj
        ),
        walk(node, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT ed.b, walk.lab FROM walk JOIN ed ON ed.a = walk.node
        ),
        cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
               FROM walk GROUP BY node),
        sel AS (
            SELECT cl.doc_id, cl.cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cl.cluster_id
                       ORDER BY len(w.ws) DESC, cl.doc_id) AS rn
            FROM cl JOIN w ON w.doc_id = cl.doc_id
        )
        SELECT doc_id, cluster_id,
               CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER)
                   AS is_canonical
        FROM sel
    """,
)
def q_dedup_canonical(spark, sf_dir):
    """The dedup pipeline's LAST stage: after clustering near-dups,
    pick which document each cluster KEEPS — here the longest (most
    whitespace tokens), doc_id tiebreak — and emit the full manifest
    (doc_id, cluster_id, is_canonical) that the training pipeline
    filters on.  Keep-longest is the classic near-dup survivor policy;
    swapping the ORDER BY for quality_score is a one-line change.
    Plan: exact capped pair source (oracle twin — the 100 TB path is
    the LSH pair source, same as q_dedup_cluster vs _lsh) → min-label
    propagation → one cluster-keyed window rank.  The ranking shuffle
    carries (doc_id, cluster_id, n_tokens) triples only — document
    text never moves past the token count.

    The _PAIR_CAP contract applies to the WHOLE query (the oracle's
    ranking stage joins the capped word CTE), so every input here is
    capped — unlike q_dedup_cluster, whose manifest covers all
    documents and only caps pair generation."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_CAP)
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        n=3,
        threshold=0.5,
    )
    clusters = dedup.dedup_clusters(pairs, docs, "doc_id")
    sized = clusters.join(
        docs.select(
            "doc_id", F.size(dedup.words("text")).alias("n_tokens")
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        sized.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            F.when(F.col("rn") == 1, 1).otherwise(0)
            .cast("int")
            .alias("is_canonical"),
        )
    )


@query(
    "q_mix_rebalance",
    oracle=f"""
        WITH {_W},
        st AS (
            SELECT d.source, CAST(SUM(len(w.ws)) AS BIGINT) AS n_tokens
            FROM documents d JOIN w ON w.doc_id = d.doc_id
            GROUP BY 1
        ),
        tot AS (SELECT SUM(n_tokens) AS total,
                       MIN(n_tokens) AS min_tokens FROM st)
        SELECT source, n_tokens,
               round(CAST(n_tokens AS DOUBLE) / total, 6) AS actual_share,
               round(CAST(min_tokens AS DOUBLE) / n_tokens, 6) AS sample_rate
        FROM st CROSS JOIN tot
        ORDER BY source
    """,
)
def q_mix_rebalance(spark, sf_dir):
    """Corpus-mixing rebalance plan: per-source token counts plus the
    downsampling rate that equalizes every source's contribution to
    the largest uniform mix the corpus supports (rate_s =
    min_tokens / tokens_s ≤ 1, the scarcest source kept whole).  The
    knob LLM pipelines turn between "natural" and "uniform" domain
    mixes.  One hash-agg to |sources| rows; the totals ride as a
    broadcast 1-row aggregate — nothing beyond the token count ever
    shuffles."""
    docs = t(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source", F.size(dedup.words("text")).alias("tok")
        )
        .groupBy("source")
        .agg(F.sum("tok").alias("n_tokens"))
    )
    tot = st.agg(
        F.sum("n_tokens").alias("total"),
        F.min("n_tokens").alias("min_tokens"),
    )
    return (
        st.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("total"), 6).alias(
                "actual_share"
            ),
            F.round(F.col("min_tokens") / F.col("n_tokens"), 6).alias(
                "sample_rate"
            ),
        )
        .orderBy("source")
    )


@query(
    "q_curation_pipeline",
    oracle=f"""
        WITH {_W},
        m AS (
            SELECT w.doc_id, d.source,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   CAST(len(ws) AS DOUBLE) AS n_words,
                   CAST(list_sum(list_transform(ws, x -> length(x)))
                        AS DOUBLE) / greatest(len(ws), 1) AS awl,
                   CAST(len(list_distinct(ws)) AS DOUBLE)
                       / greatest(len(ws), 1) AS diversity,
                   {_R_EN} AS r_en, {_R_DE} AS r_de, {_R_FR} AS r_fr,
                   sha256(norm) AS digest
            FROM w JOIN documents d ON d.doc_id = w.doc_id
        ),
        k AS (
            SELECT *, MIN(doc_id) OVER (PARTITION BY digest) AS keep_id
            FROM m
        ),
        dec AS (
            SELECT source, n_tokens,
                   CASE
                     WHEN doc_id <> keep_id THEN 'dup'
                     WHEN (CASE WHEN greatest(r_en, r_de, r_fr) >= 0.02 THEN
                                CASE WHEN r_fr > greatest(r_en, r_de) THEN 'fr'
                                     WHEN r_de > r_en THEN 'de'
                                     ELSE 'en' END
                           ELSE 'und' END) <> 'en' THEN 'lang'
                     WHEN ((CASE WHEN n_words >= 20 AND n_words <= 5000
                                 THEN 1.0 ELSE 0.0 END
                          + CASE WHEN awl >= 2.0 AND awl <= 12.0
                                 THEN 1.0 ELSE 0.0 END
                          + CASE WHEN r_en >= 0.01 THEN 1.0 ELSE 0.0 END
                          + CASE WHEN diversity >= 0.1 THEN 1.0 ELSE 0.0 END)
                          / 4.0) < 0.75 THEN 'quality'
                     ELSE 'keep'
                   END AS decision
            FROM k
        )
        SELECT source, decision, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM dec GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_curation_pipeline(spark, sf_dir):
    """The whole curation funnel in ONE lazy plan: exact dedup (keep
    min doc_id per sha2 digest) → language gate (en only) → quality
    gate (≥3 of the 4 Gopher-style subscores) → per-source decision
    breakdown with document and token counts.  First-failing-gate
    attribution, the report a data team reads before training.

    Plan shape: one scan of documents computes every per-row signal
    inline (the same expressions as q_dedup_exact / q_lang_id /
    q_quality_score, via the shared operator builders), one window
    keyed on the 32-byte digest for the keeper, one hash-agg to
    |sources × decisions| rows.  Nothing but digests and slim signal
    columns ever shuffles; at 100 TB this is a single pass over the
    corpus plus a digest-keyed exchange — strictly cheaper than
    running the three component queries separately."""
    from pyspark.sql import Window

    docs, pred, _ = text.lang_pred_exprs(t(spark, sf_dir, "documents"), "text")
    ws = dedup.words("text")
    s_len, s_awl, s_stop, s_div = text.quality_subscore_exprs("text")
    quality = (s_len + s_awl + s_stop + s_div) / 4.0
    m = docs.select(
        "doc_id",
        "source",
        F.size(ws).cast("long").alias("n_tokens"),
        pred.alias("pred_lang"),
        quality.alias("quality"),
        F.sha2(dedup.normalize_text("text"), 256).alias("digest"),
    )
    k = m.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("digest"))
    )
    decision = (
        F.when(F.col("doc_id") != F.col("keep_id"), "dup")
        .when(F.col("pred_lang") != "en", "lang")
        .when(F.col("quality") < 0.75, "quality")
        .otherwise("keep")
    )
    return (
        k.select("source", "n_tokens", decision.alias("decision"))
        .groupBy("source", "decision")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("source", "decision")
    )


@query(
    "q_source_overlap",
    oracle=f"""
        WITH {_W},
        g AS (
            SELECT DISTINCT
                   sha256(array_to_string(ws[1:8], ' ')) AS pfx_digest,
                   d.source
            FROM w JOIN documents d ON d.doc_id = w.doc_id
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM g a JOIN g b
          ON a.pfx_digest = b.pfx_digest AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def q_source_overlap(spark, sf_dir):
    """Cross-source boilerplate matrix: for every source pair, how many
    8-word document openings they share (the prefix-dedup signal,
    aggregated to source level) — the governance report that tells a
    data team which feeds are re-crawling or templating each other
    before any near-dup work starts.  Plan: distinct (prefix-digest,
    source) pairs — 32-byte digests only, text never leaves the scan
    stage — a digest-keyed self-join whose fan-out is bounded by
    per-digest source counts (≤ |sources|, not corpus size), one
    hash-agg to the |sources|² upper-triangle."""
    docs = t(spark, sf_dir, "documents")
    pfx = F.array_join(F.slice(dedup.words("text"), 1, 8), " ")
    g = (
        docs.select(F.sha2(pfx, 256).alias("pfx_digest"), "source")
        .distinct()
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pfx_digest") == F.col("b.pfx_digest"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Round-5 addition: embedding compression
# ---------------------------------------------------------------------------


@query(
    "q_embedding_quantize",
    oracle="""
        WITH b AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM embeddings
        ),
        s AS (
            SELECT vec_id, embedding,
                   CASE WHEN m = 0 THEN CAST(1.0 AS DOUBLE)
                        ELSE m / 127.0 END AS scale
            FROM b
        )
        SELECT vec_id,
               round(scale, 6) AS scale,
               array_to_string(list_transform(embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) / scale)
                                  AS INTEGER) AS VARCHAR)), '|') AS q8,
               round(sqrt(CAST(list_sum(list_transform(embedding,
                   x -> CAST(round(
                            pow(CAST(x AS DOUBLE)
                                - round(CAST(x AS DOUBLE) / scale)
                                  * scale, 2), 12)
                        AS DECIMAL(28,12)))) AS DOUBLE)
                   / len(embedding)), 6) AS rmse
        FROM s
    """,
)
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column (scale =
    max|x|/127 per vector) with per-vector reconstruction RMSE — the
    4× storage/shuffle compression step before ANN indexing at 100 TB.
    All built-in array expressions (transform/array_max/array_join/
    aggregate) — no Python boundary, and the per-element squared
    errors fold within the row as DECIMAL(28,12) (the q_entropy
    exactness discipline, so the fold order can't matter across
    engines).  Plan: ONE scan, ZERO exchanges — quantization is
    embarrassingly row-parallel and the plan proves it (map-only,
    plan-asserted in tests; operators/similarity.py::quantize_int8)."""
    return similarity.quantize_int8(
        t(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )


# Shared DuckDB spelling of the DSIR weight computation (Xie et al.
# 2023 importance weights over hashed unigram+bigram buckets; target =
# English docs, B = 2048).  Mirrors operators/curation.py::dsir_weights
# step-for-step: md5-bucket hash, add-1 smoothing, 6-dp DECIMAL(18,6)
# contribution sum (the q_entropy order-independence discipline).
_DSIR = f"""
    {{w}},
    tok AS (
        SELECT w.doc_id, d.lang = 'en' AS is_target, w.ws
        FROM w JOIN documents d USING (doc_id)
    ),
    terms AS (
        SELECT doc_id, is_target, unnest(ws) AS term FROM tok
        UNION ALL
        SELECT doc_id, is_target, array_to_string(ws[i:i+1], ' ') AS term
        FROM tok, UNNEST(range(1, len(ws))) AS t(i)
    ),
    db AS (
        SELECT doc_id, is_target,
               CAST(('0x' || substr(md5(term), 1, 8))::BIGINT % 2048 AS INT)
                   AS b,
               COUNT(*) AS cnt
        FROM terms GROUP BY 1, 2, 3
    ),
    stats AS (
        SELECT b, SUM(cnt) AS cs,
               SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS ct
        FROM db GROUP BY 1
    ),
    tot AS (SELECT SUM(cs) AS ts, SUM(ct) AS tt FROM stats),
    lam AS (
        SELECT b, ln((ct + 1) / (tt + 2048.0))
                  - ln((cs + 1) / (ts + 2048.0)) AS lam
        FROM stats, tot
    ),
    dsir AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_terms,
               round(CAST(SUM(CAST(round(cnt * lam, 6) AS DECIMAL(18,6)))
                          AS DOUBLE), 6) AS logw
        FROM db JOIN lam USING (b)
        GROUP BY 1
    )
""".format(w=_W)


@query(
    "q_dsir_weights",
    oracle=f"""
        WITH {_DSIR}
        SELECT doc_id, n_terms, logw FROM dsir
    """,
)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): score every document
    by the log-likelihood ratio of its hashed unigram+bigram bag under
    the target-domain bucket model (here the English slice) vs the raw
    corpus — THE published data-selection score for tilting a web-scale
    crawl toward a quality domain.  Deterministic and oracle-exact:
    md5 bucket hashing, add-1 smoothing, DECIMAL(18,6) contribution
    sums (operators/curation.py::dsir_weights; plan shape documented
    there — one corpus scan, int-only shuffles, broadcast λ join)."""
    return curation.dsir_weights(
        t(spark, sf_dir, "documents"), "text", "doc_id", "lang", "en"
    )


@query(
    "q_dsir_sample",
    oracle=f"""
        WITH {_DSIR},
        keyed AS (
            SELECT doc_id, logw,
                   round(logw - ln(-ln(
                       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            ::BIGINT + 0.5) / 4294967296.0)), 6)
                       AS sample_key
            FROM dsir
        )
        SELECT doc_id, logw, sample_key
        FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
    """,
)
def q_dsir_sample(spark, sf_dir):
    """DSIR importance RESAMPLING: draw 100 documents without
    replacement with probability ∝ exp(logw) via Gumbel-top-k, the
    noise a pure md5 function of doc_id — the applied twin of
    q_dsir_weights and the reproducible form of the paper's resampling
    step (operators/curation.py::dsir_sample).  Plan: the weights plan
    + a scan-speed key + TakeOrderedAndProject top-k (per-partition
    heaps, no full sort)."""
    return curation.dsir_sample(
        t(spark, sf_dir, "documents"), "text", "doc_id", "lang", "en", k=100
    )


@query(
    "q_perplexity_bucket",
    oracle=f"""
        WITH {_W},
        tok AS (
            SELECT w.doc_id, d.lang, unnest(w.ws) AS term
            FROM w JOIN documents d USING (doc_id)
        ),
        tf AS (
            SELECT doc_id, lang, term, COUNT(*) AS tf
            FROM tok GROUP BY 1, 2, 3
        ),
        cf AS (SELECT lang, term, SUM(tf) AS cf FROM tf GROUP BY 1, 2),
        tot AS (SELECT lang, SUM(cf) AS total FROM cf GROUP BY 1),
        s AS (
            SELECT doc_id, tf.lang,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(CAST(round(tf * ln(CAST(cf AS DOUBLE) / total), 6)
                            AS DECIMAL(18,6))) AS s
            FROM tf
            JOIN cf USING (lang, term)
            JOIN tot USING (lang)
            GROUP BY 1, 2
        ),
        -- exact integer half-away rounding of s/n_tokens to 6 dp:
        -- s*1e6 is an exact BIGINT (scale 6), so no float tie exists
        scores AS (
            SELECT doc_id, lang, n_tokens,
                   (CASE WHEN s < 0 THEN -1 ELSE 1 END
                    * ((2 * abs(CAST(s * 1000000 AS BIGINT)) + n_tokens)
                       // (2 * n_tokens))) / 1000000.0 AS lm_score
            FROM s
        ),
        ranked AS (
            SELECT doc_id, lang, n_tokens, lm_score,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY lm_score DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS n_lang
            FROM scores
        )
        SELECT doc_id, lang, n_tokens, lm_score,
               CASE WHEN rn * 3 <= n_lang THEN 'head'
                    WHEN rn * 3 <= n_lang * 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ranked
    """,
)
def q_perplexity_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): every
    document scored under ITS OWN language's unigram LM, each
    language's score distribution cut at exact terciles → head /
    middle / tail — the published cheap quality triage a crawl
    pipeline runs before model-based filtering (CCNet keeps
    head+middle).  Deterministic and oracle-exact: DECIMAL(18,6)
    contribution sums, and the tercile cut is integer rank arithmetic
    (rn*3 <= n_lang over the (lm_score DESC, doc_id) row_number) — NOT
    an interpolated percentile, so no float quantile semantics need to
    agree cross-engine (operators/text.py::lm_buckets; plan shape
    documented there — vocabulary-bounded shuffles, |langs|-row
    broadcast totals/cutoffs, scores localCheckpoint'd once for its
    two consumers)."""
    return text.lm_buckets(
        t(spark, sf_dir, "documents"), "text", "doc_id", "lang"
    )


@query(
    "q_lm_bigram",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
        pairs AS (
            SELECT doc_id, ws[i] AS v, ws[i+1] AS w2
            FROM w, UNNEST(range(1, len(ws))) AS t(i)
        ),
        tf AS (
            SELECT doc_id, v, w2, COUNT(*) AS tf
            FROM pairs GROUP BY 1, 2, 3
        ),
        cb AS (SELECT v, w2, SUM(tf) AS cvw FROM tf GROUP BY 1, 2),
        cv AS (SELECT v, SUM(cvw) AS cv FROM cb GROUP BY 1),
        cw AS (SELECT w AS w2, COUNT(*) AS cw FROM tok GROUP BY 1),
        tot AS (SELECT SUM(cw) AS n_total FROM cw),
        s AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                   SUM(CAST(round(tf * ln(
                           0.75 * (CAST(cvw AS DOUBLE) / cv)
                           + 0.25 * (CAST(cw AS DOUBLE) / n_total)), 6)
                        AS DECIMAL(18,6))) AS s
            FROM tf
            JOIN cb USING (v, w2)
            JOIN cv USING (v)
            JOIN cw USING (w2)
            CROSS JOIN tot
            GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(n_bigrams, 0) AS n_bigrams,
               (CASE WHEN s < 0 THEN -1 ELSE 1 END
                * ((2 * abs(CAST(s * 1000000 AS BIGINT)) + n_bigrams)
                   // (2 * n_bigrams))) / 1000000.0 AS lm2_score
        FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def q_lm_bigram(spark, sf_dir):
    """Interpolated bigram-LM quality scoring (Jelinek-Mercer λ=0.75):
    mean ln p(w|prev) per document under the corpus's own bigram model
    with unigram back-off — the expressible middle step between
    q_lm_score's unigram filter and CCNet's external KenLM:
    conditioning on the previous word separates fluent prose from
    bag-of-frequent-words boilerplate the unigram score cannot.
    Model fit + apply in one lazy plan; vocabulary-bounded shuffles;
    the per-doc bigram tf localCheckpoint'd once for its two
    consumers; the final mean uses the exact-integer half-away
    rounding (no float tie can split the engines — the
    q_perplexity_bucket discipline; operators/text.py::
    bigram_lm_score)."""
    return text.bigram_lm_score(
        t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query(
    "q_mix_temperature",
    oracle=f"""
        WITH {_W},
        st AS (
            SELECT d.source, CAST(SUM(len(w.ws)) AS BIGINT) AS n_tokens
            FROM documents d JOIN w ON w.doc_id = d.doc_id
            GROUP BY 1
        ),
        tot AS (SELECT SUM(n_tokens) AS total FROM st),
        sh AS (
            SELECT source, n_tokens,
                   CAST(n_tokens AS DOUBLE) / total AS share,
                   pow(CAST(n_tokens AS DOUBLE) / total, 0.3) AS pw
            FROM st CROSS JOIN tot
        ),
        den AS (
            SELECT CAST(SUM(CAST(round(pw, 12) AS DECIMAL(18,12)))
                        AS DOUBLE) AS pw_total,
                   MAX(pw / share) AS max_boost
            FROM sh
        )
        SELECT source, n_tokens,
               round(share, 6) AS actual_share,
               round(pw / pw_total, 6) AS temp_share,
               round((pw / share) / max_boost, 6) AS sample_rate
        FROM sh CROSS JOIN den
    """,
)
def q_mix_temperature(spark, sf_dir):
    """Temperature-scaled mixture plan (mT5/XLM-R α-sampling, Conneau
    et al. 2020, α=0.3): per-source token counts, the natural share,
    the temperature share p_s ∝ share_s^0.3 (flattens the mix toward
    uniform without inverting it — the knob BETWEEN q_corpus_mix's
    natural mix and q_mix_rebalance's uniform), and the
    downsample-only realization rate (scarcest-boosted source kept
    whole).  One hash-agg to |sources| rows + broadcast 1-row
    aggregates; the float sum over sources rides the DECIMAL
    order-independence discipline (operators/curation.py::
    mix_temperature)."""
    return curation.mix_temperature(
        t(spark, sf_dir, "documents"), "text", "source", alpha=0.3
    )


@query(
    "q_hard_negatives",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
                          label AS q_label
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS n_vec, embedding AS n_emb, label AS n_label
              FROM embeddings),
        sims AS (
            SELECT q_vec, n_vec, n_label,
                   round({_cos("q_emb", "n_emb")}, 6) AS sim
            FROM c, q
            WHERE n_vec != q_vec AND n_label != q_label
        ),
        r AS (
            SELECT q_vec, n_vec, n_label, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_vec
                                      ORDER BY sim DESC, n_vec) AS rn
            FROM sims
        )
        SELECT q_vec, n_vec, CAST(n_label AS BIGINT) AS n_label, sim
        FROM r WHERE rn <= 5
    """,
)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive retrieval training (DPR,
    Karpukhin et al. 2020): for each of 20 query vectors, the 5
    most-cosine-similar corpus vectors with a DIFFERENT label — the
    near-boundary negatives a dual encoder trains against.  The
    label-constrained sibling of q_topk_similarity's exact plan:
    broadcast bounded query matrix, one corpus pass, per-batch BLAS
    matmul + same-label mask + batch-local top-k, one final window
    merge (operators/similarity.py::hard_negatives).  Similarity
    rounded before ranking so both engines rank identically."""
    return similarity.hard_negatives(
        t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 20,
        k=5,
    )


@query(
    "q_tokenizer_fertility",
    oracle=f"""
        WITH {_W},
        per AS (
            SELECT d.lang,
                   CAST(len(w.ws) AS BIGINT) AS n_words,
                   CAST(len(regexp_extract_all(w.text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS BIGINT)
                       AS n_tokens,
                   CAST(length(w.norm) AS BIGINT) AS n_chars
            FROM w JOIN documents d USING (doc_id)
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens,
               round(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6)
                   AS fertility,
               round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 6)
                   AS chars_per_token
        FROM per GROUP BY 1
    """,
)
def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (mean sub-word tokens per
    whitespace word) and chars-per-token under the BPE-ish
    pre-tokenizer — the multilingual tokenizer-efficiency metric
    behind per-language token budgeting.  Exact BIGINT sums, one
    |langs|-row hash-agg, single final divisions (operators/text.py::
    tokenizer_fertility)."""
    return text.tokenizer_fertility(
        t(spark, sf_dir, "documents"), "text", "doc_id", "lang"
    )


@query(
    "q_shard_balance",
    oracle=f"""
        WITH {_W},
        d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tok FROM w),
        r AS (
            SELECT doc_id, tok,
                   ROW_NUMBER() OVER (ORDER BY tok DESC, doc_id) AS rn
            FROM d
        )
        SELECT CAST((rn - 1) % 16 AS INTEGER) AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens
        FROM r GROUP BY 1
    """,
)
def q_shard_balance(spark, sf_dir):
    """Balanced output-shard manifest: documents dealt round-robin by
    descending token count across 16 shards (sorted-round-robin /
    LPT-style load balancing — the write-side layout step that keeps
    every training-reader shard within one max-document of the mean).
    The global descending rank uses the q_quantile_norm two-phase
    bucketed form — NO Exchange SinglePartition anywhere
    (plan-asserted; operators/curation.py::shard_balance)."""
    return curation.shard_balance(
        t(spark, sf_dir, "documents"), "text", "doc_id", n_shards=16
    )


@query(
    "q_decontaminate_ngram",
    oracle=f"""
        WITH {_W},
        sp AS (
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                             <= 'c' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                             <= 'e' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id, array_to_string(ws[i:i+9], ' ') AS s
                FROM w, UNNEST(generate_series(1, greatest(len(ws) - 9, 1)))
                    AS t(i)
            )
        ),
        ev AS (
            SELECT DISTINCT s FROM sh JOIN sp USING (doc_id)
            WHERE split = 'test'
        ),
        tr AS (
            SELECT sh.doc_id, sh.s FROM sh JOIN sp USING (doc_id)
            WHERE split = 'train'
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY 1),
        hits AS (
            SELECT tr.doc_id, COUNT(*) AS n_overlap
            FROM tr JOIN ev USING (s) GROUP BY 1
        )
        SELECT h.doc_id, t.n_grams, h.n_overlap
        FROM hits h JOIN tot t USING (doc_id)
    """,
)
def q_decontaminate_ngram(spark, sf_dir):
    """GPT-3-style n-gram decontamination (Brown et al. 2020): every
    train-split document containing any word 10-gram that also occurs
    in the held-out test split, with its total gram count and the
    collision count — the sub-document leakage grain q_contamination's
    doc-level Jaccard cannot see (a quoted eval question inside an
    otherwise-novel document).  One shingle pass, split attached at
    scan speed, 32-byte digests on every shuffle, eval gram set
    bounded by the eval split (operators/curation.py::
    ngram_decontaminate)."""
    return curation.ngram_decontaminate(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=10
    )


# Winnowing selection CTE chain (k=8, w=8) — shared by q_winnowing's
# per-doc audit and q_winnow_overlap's cross-doc matching oracle.
_WINNOW_SEL = r"""
        wd AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
            FROM documents WHERE text IS NOT NULL
        ),
        wg AS (
            SELECT doc_id, norm, length(norm) - 7 AS npos
            FROM wd WHERE length(norm) - 7 >= 8
        ),
        wp AS (
            SELECT doc_id, npos, t.p AS p,
                   ('0x' || substring(md5(substring(norm, t.p, 8)), 1, 10))
                       ::BIGINT * 1048576 + (1048575 - t.p) AS v
            FROM wg, unnest(generate_series(1, npos)) AS t(p)
        ),
        wm AS (
            SELECT doc_id, npos, p,
                   MIN(v) OVER (PARTITION BY doc_id ORDER BY p
                                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
                       AS mv
            FROM wp
        ),
        sel AS (
            SELECT DISTINCT doc_id, npos, mv FROM wm WHERE p <= npos - 7
        )
"""


@query(
    "q_winnowing",
    oracle=f"""
        WITH {_WINNOW_SEL}
        SELECT doc_id,
               CAST(npos AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_fp,
               CAST(SUM(mv // 1048576) AS BIGINT) AS fp_sum,
               round(CAST(COUNT(*) AS DOUBLE) / npos, 6) AS density
        FROM sel GROUP BY doc_id, npos
    """,
)
def q_winnowing(spark, sf_dir):
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken
    SIGMOD 2003, the MOSS local fingerprinting algorithm): k=8 char
    k-gram hashes, w=8 windows, min-hash-per-window with the
    rightmost-min tie rule — the guarantee-carrying sub-document
    fingerprint family member next to q_doc_fingerprint's bottom-k
    sketch (any shared substring ≥ 15 chars shares a fingerprint).
    Cross-engine exact: 40-bit md5-prefix hashes and the tie rule
    encoded in one BIGINT min (operators/text.py::
    winnowing_fingerprints — hash computed before the per-doc window
    shuffle, text never shuffles).  Emits the per-doc fingerprint
    audit (count, checksum, density ≈ 2/(w+1))."""
    return text.winnowing_fingerprints(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, w=8
    )


@query(
    "q_zipf_fit",
    oracle=f"""
        WITH {_W},
        tok AS (SELECT unnest(ws) AS token FROM w),
        freq AS (
            SELECT token, COUNT(*) AS freq FROM tok
            WHERE token <> '' GROUP BY 1
        ),
        top AS (
            SELECT token, freq FROM freq ORDER BY freq DESC, token LIMIT 1000
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, token) AS rank
            FROM top
        )
        SELECT round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
               round(regr_intercept(ln(freq), ln(rank)), 6)
                   AS zipf_intercept,
               CAST(COUNT(*) AS BIGINT) AS n_types_fit,
               CAST(SUM(freq) AS BIGINT) AS n_tokens_fit
        FROM ranked
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf's-law corpus-health fit: OLS slope/intercept of ln(freq)
    vs ln(rank) over the top-1000 word types (slope ≈ −1 for natural
    language; collapse toward 0 flags template spam, below −1.5 flags
    boilerplate domination — Zipf 1949, Piantadosi 2014).  The freq
    table is a vocabulary-bounded hash-agg, the cut is
    TakeOrderedAndProject (heap, no global sort), and the rank window
    runs over exactly 1000 rows (operators/text.py::zipf_fit)."""
    return text.zipf_fit(
        t(spark, sf_dir, "documents"), "text", "doc_id", top_v=1000
    )


@query(
    "q_winnow_overlap",
    oracle=f"""
        WITH {_WINNOW_SEL},
        fp AS (
            SELECT DISTINCT doc_id, mv // 1048576 AS h FROM sel
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY 1
        ),
        dfreq AS (
            SELECT h FROM fp GROUP BY h
            HAVING COUNT(*) >= 2 AND COUNT(*) <= 16
        ),
        keep AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h)),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM keep a JOIN keep b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
        SELECT p.doc_a, p.doc_b, p.n_shared,
               round(CAST(p.n_shared AS DOUBLE)
                     / least(na.n_fp, nb.n_fp), 6) AS overlap
        FROM pairs p
        JOIN per_doc na ON na.doc_id = p.doc_a
        JOIN per_doc nb ON nb.doc_id = p.doc_b
    """,
)
def q_winnow_overlap(spark, sf_dir):
    """Cross-document winnowing overlap — the MOSS matching step
    applied: pairs sharing ≥ 3 selected fingerprint hashes, with the
    containment-style overlap fraction n_shared / min(n_fp).  The
    winnowing guarantee makes this the detector for shared spans
    ≥ 15 chars that survive the density-2/(w+1) selection.
    Fingerprints in more than 16 documents are stop-fingerprints
    (ubiquitous boilerplate) and are dropped before pairing — MOSS's
    over-common-substring rule AND the C(max_df,2) pair fan-out cap,
    deterministic so the oracle spells it identically
    (operators/text.py::winnow_overlap_pairs; the pair relation
    carries (h, id, id) ints only, bodies never move)."""
    return text.winnow_overlap_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, w=8, max_df=16, min_shared=3,
    )


@query(
    "q_novelty_lsh",
    oracle=f"""
        WITH {_W}, {_SH},
        e0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
        n AS (SELECT doc_id, COUNT(*) AS n FROM e0 GROUP BY 1),
        p AS (
            SELECT b.doc_id AS doc_new, a.doc_id AS doc_old, COUNT(*) AS i
            FROM e0 b JOIN e0 a ON b.g = a.g
            WHERE b.doc_id % 2 = 1 AND a.doc_id % 2 = 0
            GROUP BY 1, 2
        ),
        dup AS (
            SELECT DISTINCT doc_new FROM p
            JOIN n nn ON nn.doc_id = p.doc_new
            JOIN n no ON no.doc_id = p.doc_old
            WHERE round(CAST(p.i AS DOUBLE)
                        / (nn.n + no.n - p.i), 6) >= 0.5
        )
        SELECT doc_id FROM documents
        WHERE doc_id % 2 = 1
          AND doc_id NOT IN (SELECT doc_new FROM dup)
    """,
)
def q_novelty_lsh(spark, sf_dir):
    """NEAR-DUP novelty gate — the LSH-fed upgrade of q_novelty's
    exact-digest anti-join: new-batch documents (odd ids) with no
    shingle-Jaccard ≥ 0.5 near-duplicate in the existing corpus (even
    ids), catching re-crawls with trivial edits that an exact digest
    passes straight through.  MinHash signatures both sides, a
    new×old band-key join (cross-side, |new|-biased — at 100 TB the
    existing corpus is a pre-built signature table), exact Jaccard
    verify on candidate ids only, anti-join (operators/dedup.py::
    novelty_neardup).  Oracle: the exact all-pairs cross-side Jaccard
    at test scale — on the bundled corpora every qualifying pair sits
    far above the 16-band S-curve knee, so LSH-fed ≡ exact row for
    row (the q_dedup_editdist_lsh certification pattern)."""
    d = t(spark, sf_dir, "documents")
    return dedup.novelty_neardup(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
    )


@query(
    "q_doc_stitch",
    oracle=f"""
        WITH {_W},
        ht AS (
            SELECT doc_id,
                   array_to_string(ws[1:3], ' ') AS head,
                   array_to_string(ws[-3:], ' ') AS tail
            FROM w WHERE len(ws) >= 6
        ),
        tdf AS (SELECT tail FROM ht GROUP BY tail HAVING COUNT(*) <= 32),
        hdf AS (SELECT head FROM ht GROUP BY head HAVING COUNT(*) <= 32)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail AS bridge
        FROM ht a JOIN tdf ON a.tail = tdf.tail
        JOIN ht b ON a.tail = b.head
        JOIN hdf ON b.head = hdf.head
        WHERE a.doc_id <> b.doc_id
    """,
)
def q_doc_stitch(spark, sf_dir):
    """Document-continuation stitch candidates: doc a's last 3
    normalized words equal doc b's first 3 — the signature of one
    logical document split across crawl records / shard boundaries,
    which corpus re-assembly stitches back before training (the
    truncation-repair complement of q_dedup_prefix's truncation
    DEDUP).  One scan → per-doc (head, tail) phrases → a single
    equi-join on the bridge phrase; phrases opening/closing > 32 docs
    are boilerplate, dropped before the join (deterministic,
    oracle-mirrored — also the max_df² fan-out cap)
    (operators/curation.py::doc_stitch_candidates)."""
    return curation.doc_stitch_candidates(
        t(spark, sf_dir, "documents"), "text", "doc_id", m=3, max_df=32
    )


@query(
    "q_emb_drift",
    oracle="""
        WITH comp AS (
            SELECT label, vec_id % 2 AS side, d.dim AS dim,
                   CAST(CAST(embedding[d.dim + 1] AS DOUBLE)
                        AS DECIMAL(28,12)) AS v
            FROM embeddings,
                 unnest(generate_series(0, len(embedding) - 1)) AS d(dim)
        ),
        sums AS (
            SELECT label, side, dim, SUM(v) AS sv, COUNT(*) AS n
            FROM comp GROUP BY 1, 2, 3
        ),
        means AS (
            SELECT label, side, dim, CAST(sv AS DOUBLE) / n AS m, n
            FROM sums
        ),
        j AS (
            SELECT a.label, a.n AS n_ref, b.n AS n_cur,
                   a.m AS ma, b.m AS mb
            FROM means a JOIN means b
              ON a.label = b.label AND a.dim = b.dim
            WHERE a.side = 0 AND b.side = 1
        ),
        agg AS (
            SELECT label,
                   CAST(MAX(n_ref) AS BIGINT) AS n_ref,
                   CAST(MAX(n_cur) AS BIGINT) AS n_cur,
                   SUM(ma * mb) AS dot,
                   SUM(ma * ma) AS na2,
                   SUM(mb * mb) AS nb2
            FROM j GROUP BY 1
        )
        SELECT label, n_ref, n_cur,
               round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS centroid_cosine,
               round(sqrt(na2), 6) AS ref_norm,
               round(sqrt(nb2), 6) AS cur_norm
        FROM agg
    """,
)
def q_emb_drift(spark, sf_dir):
    """Per-label embedding-distribution drift between two corpus
    snapshots (reference = even vec_ids, current = odd — the ingest-
    parity stand-in for consecutive crawl snapshots): centroid cosine
    per label plus the mean-vector norms — the cheap distribution-
    shift alarm a training pipeline runs before re-clustering or
    re-weighting (the monitoring half of SemDeDup-style curation).
    Engine-exact: per-(label, side, dim) component sums are
    DECIMAL(28,12) (float summation order differs across engines),
    means and the cosine are single double steps rounded once; plan
    is one posexplode pass → (labels×2×dim)-row hash-agg →
    |labels|-row assembly (operators/similarity.py::embedding_drift)."""
    return similarity.embedding_drift(t(spark, sf_dir, "embeddings"))


@query(
    "q_pad_waste",
    oracle=r"""
        WITH d AS (
            SELECT source,
                   len(string_split(regexp_replace(lower(trim(text)),
                       '\s+', ' ', 'g'), ' ')) AS n_tok
            FROM documents
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                   CAST(SUM((n_tok + 63) // 64 * 64 - n_tok) AS BIGINT)
                       AS pad_naive
            FROM d GROUP BY 1
        )
        SELECT source, n_docs, total_tokens, pad_naive,
               round(CAST(pad_naive AS DOUBLE)
                     / (total_tokens + pad_naive), 6) AS pad_rate_naive,
               CAST((total_tokens + 63) // 64 * 64 - total_tokens
                    AS BIGINT) AS pad_packed,
               round(CAST((total_tokens + 63) // 64 * 64 - total_tokens
                          AS DOUBLE)
                     / ((total_tokens + 63) // 64 * 64), 6)
                   AS pad_rate_packed
        FROM agg
    """,
)
def q_pad_waste(spark, sf_dir):
    """Padding-waste audit per source: pad tokens burned by the naive
    one-doc-per-sequence loader at context 64 vs the packed lower
    bound — the packing dividend that justifies q_pack_sequences.
    Exact integer ceil-division arithmetic end to end; one scan +
    |sources|-row hash-agg (operators/curation.py::pad_waste)."""
    return curation.pad_waste(
        t(spark, sf_dir, "documents"), "text", "source", context_len=64
    )


@query(
    "q_span_mask",
    oracle=r"""
        WITH d AS (
            SELECT doc_id,
                   len(string_split(regexp_replace(lower(trim(text)),
                       '\s+', ' ', 'g'), ' ')) AS n_tok
            FROM documents
        ),
        b AS (
            SELECT doc_id, n_tok, (n_tok * 15) // 300 AS n_spans
            FROM d
        )
        SELECT doc_id, n_tok, CAST(n_spans AS BIGINT) AS n_spans,
               CAST(n_spans * 3 AS BIGINT) AS n_masked,
               round(CAST(n_spans * 3 AS DOUBLE) / n_tok, 6) AS mask_frac,
               CASE WHEN n_spans > 0 THEN array_to_string(
                   list_transform(generate_series(1, n_spans), s ->
                       CAST((s - 1) * (n_tok // n_spans) + 1
                            + (('0x' || substring(md5(
                                  CAST(doc_id AS VARCHAR) || '#'
                                  || CAST(s AS VARCHAR)), 1, 8))::BIGINT
                               % (n_tok // n_spans - 2)) AS VARCHAR)),
                   ',') ELSE '' END AS span_starts
        FROM b
    """,
)
def q_span_mask(spark, sf_dir):
    """T5-style span-corruption PLAN (Raffel et al. 2020): per doc the
    deterministic non-overlapping mask spans — floor(n_tok·0.15/3)
    spans of 3 tokens, one per equal block, jittered inside its block
    by a pure md5(doc_id, span_idx) function, so the draw is
    reproducible across runs, engines, and corpus growth (the
    q_split_assign determinism contract).  Integer arithmetic only;
    starts emitted as a CSV string so the driver hash never sees an
    array cell (operators/curation.py::span_mask_plan)."""
    return curation.span_mask_plan(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        mask_ratio_pct=15, span_len=3,
    )


@query(
    "q_quality_gates",
    oracle=r"""
        WITH t0 AS (
            SELECT doc_id, source,
                   unnest(string_split(regexp_replace(lower(trim(text)),
                       '\s+', ' ', 'g'), ' ')) AS w
            FROM documents
        ),
        t1 AS (SELECT * FROM t0 WHERE w <> ''),
        pw AS (
            SELECT doc_id, source, w, COUNT(*) AS cnt,
                   SUM(len(w)) AS chars
            FROM t1 GROUP BY 1, 2, 3
        ),
        pd0 AS (
            SELECT doc_id, source, SUM(cnt) AS n_words,
                   SUM(chars) AS n_chars, MAX(cnt) AS max_cnt,
                   SUM(CASE WHEN w IN ('the','a','of','and','to')
                       THEN cnt ELSE 0 END) AS n_stop
            FROM pw GROUP BY 1, 2
        ),
        pd AS (
            SELECT d.doc_id, d.source,
                   COALESCE(pd0.n_words, 0) AS n_words,
                   COALESCE(pd0.n_chars, 0) AS n_chars,
                   COALESCE(pd0.max_cnt, 0) AS max_cnt,
                   COALESCE(pd0.n_stop, 0) AS n_stop
            FROM documents d LEFT JOIN pd0
              ON d.doc_id = pd0.doc_id AND d.source = pd0.source
        ),
        fl AS (
            SELECT source,
                   CASE WHEN n_words < 10 THEN 1 ELSE 0 END AS v1,
                   CASE WHEN n_words > 1000 THEN 1 ELSE 0 END AS v2,
                   CASE WHEN n_chars < 2 * n_words
                          OR n_chars > 12 * n_words
                        THEN 1 ELSE 0 END AS v3,
                   CASE WHEN 5 * max_cnt > n_words THEN 1 ELSE 0 END AS v4,
                   CASE WHEN n_stop = 0 THEN 1 ELSE 0 END AS v5
            FROM pd
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(v1) AS BIGINT) AS n_too_short,
               CAST(SUM(v2) AS BIGINT) AS n_too_long,
               CAST(SUM(v3) AS BIGINT) AS n_word_len,
               CAST(SUM(v4) AS BIGINT) AS n_top_word,
               CAST(SUM(v5) AS BIGINT) AS n_no_stopword,
               CAST(SUM(GREATEST(v1, v2, v3, v4, v5)) AS BIGINT)
                   AS n_any_violation
        FROM fl GROUP BY source
    """,
)
def q_quality_gates(spark, sf_dir):
    """Per-source rule-level quality-gate violation matrix — which
    Gopher-style gate fires how often per source (Rae et al. 2021
    Table A1's per-rule accounting), the observability complement of
    q_curation_pipeline's single verdict.  Every rule is an exact
    integer cross-multiplication (mean word length bounds ⇔ chars vs
    2·/12·words; top-word share > 20% ⇔ 5·max_cnt > words) — no float
    thresholds to drift cross-engine
    (operators/curation.py::quality_gate_matrix)."""
    return curation.quality_gate_matrix(
        t(spark, sf_dir, "documents"), "text", "doc_id", "source"
    )


@query(
    "q_heaps_fit",
    oracle=f"""
        WITH {_W},
        tk0 AS (SELECT doc_id, unnest(ws) AS w FROM w),
        tk AS (SELECT * FROM tk0 WHERE w <> ''),
        n AS (SELECT COUNT(*) AS nd FROM documents),
        tb AS (
            SELECT doc_id * 10 // nd AS bucket, COUNT(*) AS toks
            FROM tk, n GROUP BY 1
        ),
        fw AS (SELECT w, MIN(doc_id) AS first_doc FROM tk GROUP BY 1),
        nb AS (
            SELECT first_doc * 10 // nd AS bucket,
                   COUNT(*) AS new_types
            FROM fw, n GROUP BY 1
        ),
        pts AS (
            SELECT tb.bucket,
                   SUM(toks) OVER (ORDER BY tb.bucket) AS cum_tokens,
                   SUM(COALESCE(new_types, 0)) OVER (ORDER BY tb.bucket)
                       AS cum_types
            FROM tb LEFT JOIN nb USING (bucket)
        )
        SELECT round(regr_slope(ln(cum_types), ln(cum_tokens)), 6) + 0.0
                   AS heaps_beta,
               round(regr_intercept(ln(cum_types), ln(cum_tokens)), 6) + 0.0
                   AS heaps_lnk,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(MAX(cum_tokens) AS BIGINT) AS n_tokens,
               CAST(MAX(cum_types) AS BIGINT) AS n_types
        FROM pts
    """,
)
def q_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit — the companion corpus-health
    alarm to q_zipf_fit: OLS of ln(cumulative types) vs ln(cumulative
    tokens) at 10 corpus-prefix deciles.  β ≈ 0.4–0.6 for natural
    language; → 0 flags a closed template vocabulary, → 1 flags
    id/hash spam.  Cumulative types without per-prefix distinct: each
    type counts once at the bucket of its FIRST occurrence
    (vocabulary-bounded min-agg), then a 10-row running sum
    (operators/text.py::heaps_fit)."""
    return text.heaps_fit(
        t(spark, sf_dir, "documents"), "text", "doc_id", buckets=10
    )


@query(
    "q_cluster_stats",
    oracle=f"""
        SELECT size AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(size) AS BIGINT) AS n_docs
        FROM (
            SELECT cluster_id, COUNT(*) AS size
            FROM ({_CLUSTER_ORACLE}) c
            GROUP BY 1
        ) s
        GROUP BY 1
    """,
)
def q_cluster_stats(spark, sf_dir):
    """Near-dup cluster-size distribution — the dedup observability
    rollup every production dedup run reports before applying survivor
    selection (how much of the corpus sits in 2-member pairs vs
    100-member re-crawl storms decides whether keep-longest is safe or
    a template cluster needs manual review).  Reuses the exact-pair
    connected-components pipeline of q_dedup_cluster (capped exact
    twin; the LSH pipeline is the uncapped path) and adds two bounded
    hash-aggs: |clusters| rows, then |distinct sizes| rows."""
    clusters = _exact_cluster_assignments(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy(F.col("size").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("n_docs"),
    )


@query(
    "q_heavy_hitters",
    oracle=r"""
        WITH tok AS (
            SELECT unnest(string_split(regexp_replace(lower(trim(text)),
                '\s+', ' ', 'g'), ' ')) AS w
            FROM documents
        ),
        tk AS (SELECT w FROM tok WHERE w <> ''),
        rows_ AS (SELECT unnest(generate_series(0, 3)) AS row),
        rb AS (
            SELECT row,
                   ('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || w),
                                      1, 8))::BIGINT % 1024 AS bucket
            FROM tk, rows_
        ),
        counters AS (
            SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM rb GROUP BY 1, 2
        ),
        exact AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM tk GROUP BY 1
            ORDER BY exact_cnt DESC, w LIMIT 20
        ),
        probes AS (
            SELECT w, exact_cnt, row,
                   ('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || w),
                                      1, 8))::BIGINT % 1024 AS bucket
            FROM exact, rows_
        )
        SELECT p.w AS token, p.exact_cnt,
               CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
               CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overestimate
        FROM probes p JOIN counters c USING (row, bucket)
        GROUP BY 1, 2
    """,
)
def q_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005)
    with the sketch's one-sided error surfaced per row: the corpus
    top-20 word types with exact count, CMS estimate (d=4 × w=1024
    md5-bucket counters), and the overestimate ≥ 0.  Unlike the
    HLL/GK family (engine-private estimators, rows-only), md5-derived
    buckets are fully deterministic, so this SKETCH carries an exact
    cross-engine oracle — the q_dedup_simhash graduation pattern
    applied to a frequency sketch.  The counter table is fixed d·w
    state regardless of vocabulary size — the bounded-memory frequency
    path for unbounded token streams
    (operators/text.py::cms_heavy_hitters)."""
    return text.cms_heavy_hitters(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        depth=4, width=1024, top_k=20,
    )


@query(
    "q_bloom_novelty",
    oracle=r"""
        WITH nrm AS (
            SELECT doc_id,
                   sha256(regexp_replace(lower(trim(text)), '\s+', ' ',
                                         'g')) AS dig
            FROM documents
        ),
        ks AS (SELECT unnest(generate_series(0, 2)) AS i),
        old_bits AS (
            SELECT DISTINCT
                   ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || dig),
                                      1, 8))::BIGINT % 16384 AS bit
            FROM nrm, ks WHERE doc_id % 2 = 0
        ),
        new_pos AS (
            SELECT doc_id, dig,
                   ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || dig),
                                      1, 8))::BIGINT % 16384 AS bit
            FROM nrm, ks WHERE doc_id % 2 = 1
        ),
        hits AS (
            SELECT doc_id,
                   MIN(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
                       AS all_set
            FROM new_pos np LEFT JOIN old_bits b ON np.bit = b.bit
            GROUP BY 1
        ),
        ex AS (
            SELECT n.doc_id,
                   CASE WHEN n.dig IN (SELECT dig FROM nrm
                                       WHERE doc_id % 2 = 0)
                        THEN 1 ELSE 0 END AS seen_exact
            FROM nrm n WHERE n.doc_id % 2 = 1
        )
        SELECT h.doc_id,
               CAST(h.all_set AS INTEGER) AS maybe_seen,
               CAST(ex.seen_exact AS INTEGER) AS seen_exact,
               CAST(CASE WHEN h.all_set = 1 AND ex.seen_exact = 0
                         THEN 1 ELSE 0 END AS INTEGER) AS false_positive
        FROM hits h JOIN ex ON h.doc_id = ex.doc_id
    """,
)
def q_bloom_novelty(spark, sf_dir):
    """Bloom-filter novelty gate with its false-positive rate measured
    in-query: the existing corpus (even ids) populates a k=3, m=2^14
    md5-bit Bloom filter; each new-batch document (odd ids) reports
    maybe_seen (no false negatives), the exact-digest truth, and the
    false_positive flag — certifying the filter's FPR on THIS corpus
    instead of assuming the analytic formula.  The filter is a ≤ m-row
    set-bit relation — fixed broadcastable state regardless of corpus
    size, the structure object stores front their digest indexes with;
    deterministic md5 positions make the whole gate (filter build
    included) exactly oracle-checkable
    (operators/dedup.py::bloom_novelty)."""
    d = t(spark, sf_dir, "documents")
    return dedup.bloom_novelty(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
        k=3,
        m=1 << 14,
    )


@query("q_dedup_containment_lsh", oracle=_uncapped(_CONTAINMENT_ORACLE))
def q_dedup_containment_lsh(spark, sf_dir):
    """The 100 TB spelling of q_dedup_containment — the one dedup
    family whose scale path CANNOT be MinHash-LSH (Jaccard banding is
    exactly what high-containment / low-Jaccard pairs evade): the
    candidate generator is a df-bounded RARE-shingle inverted index
    (2 ≤ df ≤ 16; > 16 is boilerplate AND the C(16,2) fan-out cap —
    the winnow_overlap stop-fingerprint discipline), exact
    containment verified on candidate ids only (shingle sets move for
    candidate docs alone).  A qualifying pair is missed only if its
    contained text is pure > 16-doc boilerplate — which the segment /
    substring blacklists remove upstream; measured ZERO missed pairs
    at every bundled tier, so the composed query equals the exact
    twin row for row (test-pinned) and carries the uncapped exact
    containment oracle (the q_dedup_cluster_lsh certification
    pattern) (operators/dedup.py::containment_pairs_rare_shingle)."""
    return dedup.containment_pairs_rare_shingle(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, threshold=0.8, max_df=16,
    )
