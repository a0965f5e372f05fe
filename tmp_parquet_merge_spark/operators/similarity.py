"""Similarity search over embedding columns (``array<float>``).

North-star mandated (BASELINE.json).  Two tiers:

  * brute-force cosine top-k — the exact baseline: broadcast the query
    set, stream the corpus through one narrow projection, rank with a
    per-group window.  At 100 TB corpus scale this is a single pass,
    no corpus shuffle except the final (tiny) top-k per query.
  * LSH-bucketed ANN (random hyperplanes) — the scale path: each
    vector gets a ``nbits``-bit signature from sign(v·h_j); bucket-join
    query/corpus on the signature prefix bands and rank within buckets.
    Probes a fraction of the corpus at the cost of recall.
  * IVF (inverted-file) ANN — centroid-assign + probe nearest cells;
    centroids here are a deterministic sample (a k-means fit would
    slot in the same shape).

Dot products use ``F.zip_with`` + ``F.aggregate`` — JVM-side sequential
folds, deterministic order (matters for oracle parity), no Python.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """Deterministic double dot product of two float-array columns
    (left-to-right fold, so both engines sum in index order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _safe_norm(X: np.ndarray) -> np.ndarray:
    """Row norms with zeros mapped to 1 — a zero embedding scores 0
    against everything instead of poisoning rankings with NaN."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return n


def dot_udf(round_to: int = 6):
    """Arrow-vectorized pairwise dot product of two array columns —
    one einsum per batch.  The candidate-verify hot path: an
    expression-tree ``dot`` pays dim interpreted lambda evaluations
    per PAIR (array HOFs don't codegen), which dominates bucket-join
    verify stages at millions of candidates; this is ~20× cheaper and
    also a CollapseProject barrier."""

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        return pd.Series(np.round(np.einsum("ij,ij->i", A, B), round_to))

    return _dot


def unit_udf():
    """Arrow-vectorized unit normalization (numpy, per batch).

    Deliberately a pandas_udf rather than a ``transform`` lambda:
    Catalyst's CollapseProject inlines lambda-built columns into every
    downstream projection, so an expression-tree ``x / l2_norm(v)``
    gets re-evaluated per ELEMENT per consumer (observed 14× blowup on
    the similarity join).  The UDF is an ArrowEvalPython barrier —
    normalization happens exactly once per row, in C-speed numpy."""

    @pandas_udf("array<double>")
    def _unit(v: pd.Series) -> pd.Series:
        X = np.array(v.tolist(), dtype=np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return pd.Series(list(X / n))

    return _unit


def _pull_queries(
    queries: DataFrame, id_col: str, vec_col: str, cap: int
) -> pd.DataFrame:
    """Bounded driver pull of the query set — the _PAIR_CAP discipline
    for broadcast-side artifacts: the query matrix (and, for PQ, its
    O(|Q|·m·ksub) ADC LUT) lives in driver + executor memory, so the
    operator refuses an oversized query set instead of silently
    collecting it.  ``limit(cap+1)`` bounds the transfer itself."""
    pdf = (
        queries.select(F.col(id_col), F.col(vec_col)).limit(cap + 1).toPandas()
    )
    if len(pdf) > cap:
        raise ValueError(
            f"query set exceeds query_cap={cap}: the query matrix is a "
            f"broadcast artifact — batch the queries or raise query_cap "
            f"deliberately"
        )
    return pdf


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int = 6,
    query_cap: int = 1024,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The 100 TB plan: the query matrix is broadcast to executors, the
    corpus streams through ``mapInPandas`` once — each Arrow batch is
    scored against ALL queries with one BLAS matmul and pruned to its
    local top-k per query, so only ~k rows per (query, batch) ever
    leave the scan.  No corpus shuffle; the final rank merges the tiny
    pruned set.  Similarity is rounded before ranking so ranking ties
    resolve identically in any engine, then ``n_vec`` breaks them
    totally.
    """
    qpdf = _pull_queries(queries, id_col, vec_col, query_cap)
    q_ids = np.array(qpdf[id_col], dtype=np.int64)
    Q = np.array(qpdf[vec_col].tolist(), dtype=np.float64)
    Qn = Q / _safe_norm(Q)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, Qn))

    def score(batches):
        q_ids, Qn = bq.value
        for pdf in batches:
            ids = np.array(pdf[id_col], dtype=np.int64)
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # inline zero-norm guard (the closure must stay
            # self-contained for cloudpickle; see unit_udf)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            Xn = X / n
            S = np.round(Xn @ Qn.T, round_to)  # (batch, n_queries)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = S[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                # exact (sim desc, id asc) order, batch-local top-k
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                pick = cand_idx[order]
                out_q.extend([qid] * len(pick))
                out_n.extend(ids[pick])
                out_s.extend(col[pick])
            yield pd.DataFrame({"q_vec": out_q, "n_vec": out_n, "sim": out_s})

    sims = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, schema="q_vec long, n_vec long, sim double"
    )
    from tmp_parquet_merge_spark.operators.relational import grouped_top_k

    return grouped_top_k(
        sims, ["q_vec"], [F.col("sim").desc(), F.col("n_vec")], k
    )


def embedding_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ threshold, a<b).

    This exact all-pairs form is the verify stage / small-side tool; at
    corpus scale candidates come from :func:`lsh_bucket_candidates`
    first, and only candidates pay the cosine.
    """
    normed = df.select(
        F.col(id_col).alias("__id"), unit_udf()(F.col(vec_col)).alias("__u")
    )
    a = normed.select(F.col("__id").alias("vec_a"), F.col("__u").alias("emb_a"))
    b = normed.select(F.col("__id").alias("vec_b"), F.col("__u").alias("emb_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(dot(F.col("emb_a"), F.col("emb_b")), round_to).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _auto_lsh_params(
    n: int,
    *,
    high_sim: float = 0.9,
    target_recall: float = 0.9,
    min_bits: int = 4,
    max_bands: int | None = None,
    probe_flips: int = 0,
) -> tuple[int, int]:
    """(bits_per_band, bands) sized to the corpus count.

    Fixed banding does not scale: with b bits per band a RANDOM pair
    collides with prob 2^-b per band, so candidate count grows as
    L·n²·2^-b — quadratic once n outgrows 2^b (a scale sweep
    measured exactly that: 16-bit/4-band SRP went 25× slower on 5×
    the vectors).  Growing b with log2(n) pins expected random
    collisions to O(n) (E[bucket] ≈ 2^min_bits per band); bands then
    grow to hold ``target_recall`` at the ``high_sim`` near-dup
    design point (p_band = (1-acos(s)/π)^b,
    L = ln(1-R)/ln(1-p_band)).

    Bands are UNCAPPED by default: each log2(n) bit
    multiplies the bands needed by 1/p1 (p1 = 1-acos(s)/π ≈ 0.856 at
    s=0.9), so L grows only ~n^0.22 — ≈37 bands at n=4M, ≈130 at
    n=1e9 — a linear per-vector signature cost, vs. silently losing
    recall (a 32-band clamp is ~44% recall at 1e9, not the promised
    90%).  Pass ``max_bands`` to bound index memory explicitly; a
    clamp that lowers achieved recall below ``target_recall`` warns
    with the achieved figure rather than failing silently.  Recall at
    LOWER thresholds decays with n — the standard LSH tradeoff; lower
    ``high_sim`` to spend more bands if the operating threshold is
    loose.

    ``probe_flips=1`` sizes for Hamming-1 multi-probe querying (Lv et
    al. 2007, the over-fetch knob): the probe side also checks every
    band key with one bit flipped, so a pair colliding at band Hamming
    distance ≤ 1 is a candidate — per-band collision rises from p^b to
    p^b + b·p^(b-1)·(1-p) WITHOUT more bands; the cost is (b+1)× probe
    keys and (1+b)·2^-b random collisions per band."""
    import math

    b = max(min_bits, math.ceil(math.log2(max(n, 2))) - min_bits)
    p1 = 1 - math.acos(high_sim) / math.pi
    p_band = p1**b
    if probe_flips:
        p_band = p_band + b * (p1 ** (b - 1)) * (1 - p1)
    if p_band >= 1.0:
        return b, 1
    bands = max(
        1, math.ceil(math.log(1 - target_recall) / math.log(1 - p_band))
    )
    if max_bands is not None and bands > max_bands:
        import warnings

        achieved = 1 - (1 - p_band) ** max_bands
        warnings.warn(
            f"_auto_lsh_params: max_bands={max_bands} clamps the "
            f"{bands} bands needed for recall≈{target_recall} at "
            f"cosine {high_sim} with n={n}; achieved recall ≈ "
            f"{achieved:.2f}",
            stacklevel=2,
        )
        bands = max_bands
    return b, bands


def _bg_candidate_frac(bits: int, bands: int, probe_flips: int) -> float:
    """Expected fraction of RANDOM (orthogonal-background) pairs the
    banded index emits as candidates: per band two random ``bits``-bit
    signatures match with prob 2^-bits, and Hamming-1 multi-probe
    accepts every key within Hamming distance ``probe_flips``, so
    p_band = |Hamming ball| · 2^-bits = Σ_{f=0..probe_flips} C(bits,f)
    · 2^-bits; a pair is a candidate if ANY band fires.  This is the
    analytic density gauge the regime switch reads — when it
    saturates, banding inspects ~all pairs anyway and a blocked exact
    scan is strictly cheaper (same output, no materialized candidate
    relation)."""
    ball = sum(math.comb(bits, f) for f in range(probe_flips + 1))
    p_band = min(1.0, ball * (0.5 ** bits))
    return 1.0 - (1.0 - p_band) ** bands


def _exact_pair_scan(
    normed: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_to: int,
) -> DataFrame:
    """Exact cosine pair mining by blocked matmul — the saturated-
    regime twin of the banded index: broadcast the (bounded) unit
    matrix, stream the same frame through mapInArrow, dgemm each
    Arrow batch against the broadcast side with a 1e-9 margin, then
    re-verify survivors with the SAME per-pair einsum the banded
    verify uses (dot_udf's spelling), so the emitted (vec_a, vec_b,
    sim) rows are bit-identical to the banded path's.  Each unordered
    pair is emitted exactly once (id_b > id_a, and every vector sits
    in exactly one batch).  Cost is n²·d BLAS flops with NOTHING
    materialized except surviving pairs — vs the banded path's
    O(candidate) shuffled rows, which at a saturated operating point
    is ~n²/2 rows of pure overhead (the 25× sweep measured 53× on
    exactly that shape).  The caller bounds n before choosing this
    path (broadcast = n·dim doubles)."""
    import pyarrow as pa

    pdf = normed.select(F.col(id_col), F.col(vec_col)).toPandas()
    ids_b = pdf[id_col].to_numpy(dtype=np.int64)
    B = np.ascontiguousarray(
        np.array(pdf[vec_col].tolist(), dtype=np.float64)
    )
    bc = normed.sparkSession.sparkContext.broadcast((ids_b, B))
    # The banded path (and the DuckDB oracle) filter on the ROUNDED sim
    # (round(dot, round_to) >= threshold), so a raw dot in
    # [threshold - 0.5·10^-round_to, threshold) still rounds UP into the
    # emitted set.  The pre-filter margin must admit that whole window or
    # boundary pairs appear in the banded/oracle output but not here —
    # breaking the identical-pair-set invariant of the regime switch.
    # The einsum+round re-verify below discards anything that doesn't
    # actually round up, so widening the margin costs only a few extra
    # candidate dots.
    margin = float(threshold) - 0.5 * 10.0 ** (-round_to) - 1e-9

    # column-blocked scan: a whole-matrix S = A @ M.T is ~|A|·n
    # doubles PER TASK (625 MB at n=50k) — 32 concurrent tasks turn
    # that into a 20 GB allocation/bandwidth storm that dominated the
    # first measurement (45 s stage for ~4 s of BLAS).  Blocking the
    # index side keeps each temporary at |A|·block doubles and the
    # stage lands within ~2x of the raw BLAS time.
    block = 4096

    def scan(batches):
        ids_idx, M = bc.value
        for batch in batches:
            ia = np.asarray(batch.column(id_col), dtype=np.int64)
            va = batch.column(vec_col)
            # arrow-native: ListArray values buffer -> (n, dim) view
            A = np.asarray(va.flatten(), dtype=np.float64).reshape(
                len(ia), -1
            )
            out_a, out_b, out_s = [], [], []
            for c0 in range(0, M.shape[0], block):
                Mb = M[c0 : c0 + block]
                ib = ids_idx[c0 : c0 + block]
                S = A @ Mb.T
                mask = (S >= margin) & (ib[None, :] > ia[:, None])
                r, c = np.nonzero(mask)
                if len(r) == 0:
                    continue
                sims = np.round(
                    np.einsum("ij,ij->i", A[r], Mb[c]), round_to
                )
                keep = sims >= threshold
                if keep.any():
                    out_a.append(ia[r][keep])
                    out_b.append(ib[c][keep])
                    out_s.append(sims[keep])
            if not out_a:
                continue
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_a": np.concatenate(out_a),
                    "vec_b": np.concatenate(out_b),
                    "sim": np.concatenate(out_s),
                }
            )

    return normed.mapInArrow(scan, "vec_a long, vec_b long, sim double")



def embedding_dedup_pairs_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    nbits: int | None = None,
    bands: int | None = None,
    round_to: int = 6,
    target_recall: float = 0.95,
    max_bands: int | None = 64,
    probe_flips: int = 0,
    exact_scan_cap: int = 262_144,
    bg_frac_cutoff: float = 0.05,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP-LSH candidates —
    the 100 TB path: bucket-join on signature bands (shuffle is
    O(vectors × bands) int keys, never all-pairs), then exact cosine
    only on candidates.  Same output schema as
    :func:`embedding_dedup_pairs`; recall < 1 by the LSH S-curve (a
    pair at cosine c collides per band with prob (1-acos(c)/π)^rows),
    so this is the approximate scale twin, not the oracle twin.

    ``nbits``/``bands`` default to corpus-adaptive sizing
    (:func:`_auto_lsh_params`, one count() over the ids): band
    selectivity tracks log2(n) so expected random-pair collisions —
    and therefore verify cost — stay O(n·bands) as the corpus grows,
    while the band count is sized to hold ``target_recall`` AT THE
    OPERATING ``threshold`` (sizing for recall at cosine 0.9
    regardless of the query's threshold measured
    pair_recall 0.38/0.44 at the 0.4 boundary: only 4 bands, each
    nearly blind to a 66° angle).  Sizing at the operating point
    measures 0.97/0.97/0.95 on the bundled tiers (the per-band
    collision p1 = 1-acos(t)/π shrinks with t, so low thresholds need
    MANY bands — ``max_bands`` caps the cost and the clamp warns with
    the achieved-recall estimate).  The honest scale law, recorded in
    SCALE.md: at fixed recall and cosine 0.4 the band count grows
    ~n^0.66, so a capped index DECAYS in recall as the corpus grows —
    near-threshold pair mining at loose cosine is SemDeDup territory
    (q_dedup_semantic) or a higher-threshold rerun, not an LSH win.
    Pass ``nbits``/``bands`` explicitly to pin a fixed layout
    instead.

    ``probe_flips=1`` turns on Hamming-1 multi-probe over-fetch
    (Lv et al. 2007): the probe side also emits every band key with
    one bit flipped, multiplying per-band pair recall by
    ~(1 + b·(1-p)/p) for free band-count-wise.  With
    ``target_recall`` pushed to 1-1e-5 this makes the emitted pair
    set equal to the exact twin's on the bundled corpora (the q_ann_lsh
    graduation protocol applied to the pair problem — candidates
    over-fetched, then the SAME exact cosine filter, so output ⊆ exact
    always and = exact when candidate coverage is total).  The honest
    open-scale law stands: per-pair miss probability is fixed by
    (bands, bits), so at 1000× the corpus the guarantee is again
    statistical, and at loose thresholds the capped index decays as
    documented above."""
    exact_scan = False
    if nbits is None or bands is None:
        n = df.count()
        rows_per_band, n_bands = _auto_lsh_params(
            n,
            high_sim=threshold,
            target_recall=target_recall,
            max_bands=max_bands,
            probe_flips=probe_flips,
        )
        nbits = rows_per_band * n_bands
        bands = n_bands
        # Regime switch (from the 25x sweep's 53x blow-up): when
        # the sizing that HOLDS target_recall at the operating
        # threshold is so permissive that a RANDOM pair is a candidate
        # with probability >= bg_frac_cutoff, the banded index
        # materializes ~frac.n^2/2 shuffled candidate rows of pure
        # overhead — the blocked exact scan computes the identical
        # pair set in n^2.d BLAS flops with nothing materialized but
        # survivors (recall exactly 1, so the exact-twin oracle holds
        # by construction).  Bounded: the scan broadcasts n.dim
        # doubles, so it only triggers up to exact_scan_cap vectors;
        # above the cap the banded path stands with its documented
        # decay law (SemDeDup handoff).  Saturation + huge n means the
        # OUTPUT itself approaches n^2/2 pairs — no algorithm is
        # sub-quadratic there.
        exact_scan = (
            exact_scan_cap > 0
            and n <= exact_scan_cap
            and _bg_candidate_frac(rows_per_band, bands, probe_flips)
            >= bg_frac_cutoff
        )
    # the normalized frame feeds the signature stage AND the verify
    # join-back; materialize once (non-eager local checkpoint) so the Arrow
    # normalization doesn't run per consumer
    normed = df.select(
        F.col(id_col), unit_udf()(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint(eager=False)
    if exact_scan:
        return _exact_pair_scan(
            normed,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            round_to=round_to,
        )
    cand = lsh_bucket_candidates(
        normed, normed, id_col=id_col, vec_col=vec_col,
        dim=dim, nbits=nbits, bands=bands, probe_flips=probe_flips,
        ordered=True,
    )
    sa = normed.select(F.col(id_col).alias("q_vec"), F.col(vec_col).alias("emb_a"))
    sb = normed.select(F.col(id_col).alias("n_vec"), F.col(vec_col).alias("emb_b"))
    return (
        cand.join(sa, "q_vec")
        .join(sb, "n_vec")
        .select(
            F.col("q_vec").alias("vec_a"),
            F.col("n_vec").alias("vec_b"),
            dot_udf(round_to)(F.col("emb_a"), F.col("emb_b")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# --- LSH (random hyperplane / SRP) ------------------------------------------


@functools.lru_cache(maxsize=32)
def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes, ``(nbits, dim)`` float64
    (Box-Muller over a splitmix-ish integer stream).  The plain-Python
    loop costs tens of ms at 512×64, so the result is cached on its
    arguments and returned read-only: every caller shares one copy."""

    def mix(x: int) -> int:
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB % (1 << 64)
        return x ^ (x >> 31)

    planes = []
    for j in range(nbits):
        v = []
        for i in range(0, dim, 2):
            u1 = (mix(seed + j * dim + i) % (10**9) + 1) / (10**9 + 1)
            u2 = (mix(seed * 31 + j * dim + i + 1) % (10**9)) / 10**9
            r = math.sqrt(-2 * math.log(u1))
            v.extend([r * math.cos(2 * math.pi * u2), r * math.sin(2 * math.pi * u2)])
        planes.append(v[:dim])
    P = np.array(planes, dtype=np.float64).reshape(nbits, dim)
    P.setflags(write=False)
    return P


def srp_band_keys_udf(planes: np.ndarray, bands: int):
    """Arrow-vectorized per-band SRP bucket keys: each band's
    ``rows = nbits/bands`` sign bits packed little-endian into one
    long (one batch matmul + one packing matmul).  Integer keys make
    Hamming-1 multi-probe pure XOR arithmetic downstream — the probe
    side never carries or re-hashes bit arrays."""
    P = planes.T  # (dim, nbits)
    nbits = P.shape[1]
    rows = nbits // bands
    if rows > 62:
        raise ValueError(f"rows per band {rows} overflows a long key")
    W = (1 << np.arange(rows, dtype=np.int64))  # little-endian packing

    @pandas_udf("array<long>")
    def _keys(v: pd.Series) -> pd.Series:
        X = np.array(v.tolist(), dtype=np.float64)
        B = (X @ P > 0).astype(np.int64)[:, : rows * bands]
        K = B.reshape(len(X), bands, rows) @ W  # (n, bands) longs
        return pd.Series(list(K))

    return _keys


def lsh_bucket_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 16,
    bands: int = 4,
    probe_flips: int = 0,
    ordered: bool = False,
) -> DataFrame:
    """ANN candidate ID pairs: equal signature band ⇒ candidate.

    ``nbits`` bits split into ``bands`` keys; a candidate needs one
    whole band equal (OR over bands), so recall degrades gracefully.
    Returns (q_vec, n_vec) pairs ONLY — the bucket join and the
    distinct shuffle just int keys; callers join the embeddings back
    by id for the verify stage.  (Carrying the vectors through the
    bucket join would shuffle 2×dim doubles per candidate — the
    dominant cost at corpus scale and measurably so even at sf0.1.)
    Shuffle volume is O((corpus+queries) × bands) int keys plus
    O(candidates) int pairs.

    ``probe_flips=1`` enables Hamming-1 multi-probe (Lv et al. 2007):
    the QUERY side emits, per band, the original key plus the
    ``rows``-per-band one-bit-flip variants — a pair whose band
    signatures differ by ≤ 1 bit becomes a candidate.  The index side
    is unchanged (each corpus vector still indexed once per band), so
    the key volume is O(queries × bands × rows) — linear with a
    log2(n) factor, never pairwise.

    ``ordered=True`` (self-join pair mining) keeps only q_vec < n_vec
    — applied INSIDE the bucket join, before the distinct, so the
    dedup shuffle carries half the rows (symmetric probing finds every
    pair in both directions; mining callers only want one)."""
    keys_udf = srp_band_keys_udf(_hyperplanes(dim, nbits), bands)
    rows = nbits // bands

    def banded(df: DataFrame, role: str, flips: int = 0) -> DataFrame:
        # band key = the band's bits packed little-endian into a long
        # (rows ≤ 62), so a one-bit flip is key XOR (1 << bit) — pure
        # int arithmetic, no array slicing/hash on the exploded rows
        base = df.select(
            F.col(id_col).alias(f"{role}_vec"),
            F.posexplode(keys_udf(F.col(vec_col))).alias("band", "key0"),
        )
        if not flips:
            return base.select(
                f"{role}_vec", "band", F.col("key0").alias("key")
            )
        # j = 0 keeps the original key; j = 1..rows flips bit j-1 —
        # the flip position exploded as data so the plan stays O(1)
        # expressions regardless of rows×bands
        return base.select(
            f"{role}_vec",
            "band",
            F.explode(F.sequence(F.lit(0), F.lit(rows))).alias("j"),
            "key0",
        ).select(
            f"{role}_vec",
            "band",
            F.expr(
                "CASE WHEN j = 0 THEN key0 "
                "ELSE key0 ^ shiftleft(CAST(1 AS BIGINT), j - 1) END"
            ).alias("key"),
        )

    c, q = banded(corpus, "n"), banded(queries, "q", probe_flips)
    keep = (
        F.col("q_vec") < F.col("n_vec")
        if ordered
        else F.col("n_vec") != F.col("q_vec")
    )
    return (
        c.join(q, ["band", "key"])
        .filter(keep)
        .select("q_vec", "n_vec")
        .distinct()
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    nbits: int = 512,
    overfetch: int = 300,
    round_to: int = 6,
    query_cap: int = 1024,
) -> DataFrame:
    """Approximate top-k: SRP sketch ranking → over-fetch → exact
    cosine re-rank.  Same output shape as :func:`brute_force_topk`.

    Stage 1 ranks the corpus by Hamming distance between ``nbits``-bit
    sign-random-projection sketches (one batch matmul: the sketch is
    ``nbits/8`` bytes/vector — 4× smaller than the raw 64-float vector
    at the 512-bit default — so the candidate scan touches a fraction
    of the bytes a brute-force pass reads) and keeps the ``overfetch``
    closest ids per query, pruned per Arrow batch.  The same batch
    also scores those survivors with the exact rounded cosine, from
    the vectors it already holds and the broadcast unit queries, so
    only O(batches × |Q| × overfetch) ``(q_vec, n_vec, hamm, sim)``
    rows leave the scan: the corpus is read and normalized once, in
    one Python stage, and no vector joins back by id.  Two windows on
    the same ``q_vec`` partitioning then keep the global ``overfetch``
    closest sketches and, among them, the top-k by ``(sim desc,
    n_vec)``.  Whenever the candidate set covers the true top-k the
    output is row-identical to :func:`brute_force_topk`, duplicated
    ids included — pinned on the bundled corpora in
    tests/test_llm_ops.py, which is what lets q_ann_lsh carry the
    exact-twin SQL oracle.

    Recall economics, stated honestly: the Hamming rank concentrates
    around the true angle with std ≈ π/(2·√nbits), so on clustered
    corpora (real embedding data) small over-fetch is enough; on
    UNstructured uniform-random vectors (the SRP worst case, and what
    the bundled table is) recall is governed by overfetch and nbits —
    the 512-bit/300-candidate default measures recall 1.0 at EVERY
    bundled tier (sf0.001/sf0.01/sf0.1; exact already at 512/200 and
    384/300, so both knobs carry margin).  Banded bucket joins
    (:func:`lsh_bucket_candidates`) remain the right tool for the
    high-similarity pair-mining regime (embedding near-dedup), but for
    top-k at moderate cosine they cannot separate signal from noise
    without near-all-pairs candidate sets — measured: 4×4-bit bands
    missed 25/50 true pairs here; this re-rank design replaced them.
    """
    qpdf = _pull_queries(queries, id_col, vec_col, query_cap)
    q_ids = np.array(qpdf[id_col], dtype=np.int64)
    Q = np.array(qpdf[vec_col].tolist(), dtype=np.float64)
    Qn = Q / _safe_norm(Q)
    P = _hyperplanes(dim, nbits)  # (nbits, dim)
    Qb = (Qn @ P.T) > 0  # (|Q|, nbits)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Qb.astype(np.float64), P, Qn))

    def hamming_candidates(batches):
        q_ids, Qbf, P, Qn = bq.value
        nb = P.shape[0]
        for pdf in batches:
            ids = np.array(pdf[id_col], dtype=np.int64)
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            Xn = X / n
            Xbf = (Xn @ P.T > 0).astype(np.float64)
            # Hamming distance via two matmuls (integer-exact in f64):
            # agreements = ones·ones + zeros·zeros; D = nbits - agree
            D = nb - Xbf @ Qbf.T - (1.0 - Xbf) @ (1.0 - Qbf.T)
            qi, ni = [], []
            for j, qid in enumerate(q_ids):
                col = D[:, j]
                ci = np.nonzero(ids != qid)[0]
                # exact (hamming asc, id asc) order, batch-local top-C
                order = np.lexsort((ids[ci], col[ci]))[: int(overfetch)]
                qi.append(np.full(len(order), j, dtype=np.int64))
                ni.append(ci[order])
            qi, ni = np.concatenate(qi), np.concatenate(ni)
            # exact rounded cosine of the surviving candidates, from the
            # rows this batch already holds: one einsum over (query,
            # candidate) row pairs, the arithmetic of dot_udf
            sim = np.round(np.einsum("ij,ij->i", Qn[qi], Xn[ni]), round_to)
            yield pd.DataFrame(
                {
                    "q_vec": q_ids[qi],
                    "n_vec": ids[ni],
                    "hamm": D[ni, qi].astype(np.int64),
                    "sim": sim,
                }
            )

    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        hamming_candidates,
        schema="q_vec long, n_vec long, hamm long, sim double",
    )
    from tmp_parquet_merge_spark.operators.relational import grouped_top_k

    # global over-fetch, then the exact re-rank: both windows partition
    # on q_vec, so the tiny per-batch prunes shuffle once
    cand = grouped_top_k(
        cand, ["q_vec"], [F.col("hamm").asc(), F.col("n_vec")], int(overfetch)
    ).select("q_vec", "n_vec", "sim")
    return grouped_top_k(cand, ["q_vec"], [F.col("sim").desc(), F.col("n_vec")], k)


def kmeans_fit(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, returning the final
    (vec, cluster) assignment.  Deterministic init (lowest-id vectors),
    so runs are reproducible without RNG.

    Each round is the classic two-step, all distributed: the (tiny)
    centroid matrix broadcasts, assignment is one numpy matmul per
    Arrow batch (no per-element lambdas), and the centroid update is a
    posexplode → (cluster, dim) hash-agg — partial aggregation
    map-side, so the shuffle carries k × dim partial sums, independent
    of corpus size.  Convergence = max centroid shift < ``tol``
    (driver-side on k×dim floats).  This is the fit behind
    :func:`ivf_topk`'s index build (see :func:`kmeans_centroids`).
    """
    assigned, _, _ = _lloyd(
        df, id_col=id_col, vec_col=vec_col, k=k, max_iter=max_iter, tol=tol
    )
    return assigned.select(id_col, "cluster")


def kmeans_fit_with_stats(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> DataFrame:
    """:func:`kmeans_fit` plus fit metadata riding on every row:
    ``n_iter`` (Lloyd rounds executed), ``final_shift`` (max centroid
    movement in the last round) and ``converged`` (shift < tol before
    the round budget ran out) — so a rows-only check carries semantic
    signal about the fit, not just raw labels."""
    assigned, _, stats = _lloyd(
        df, id_col=id_col, vec_col=vec_col, k=k, max_iter=max_iter, tol=tol
    )
    return assigned.select(
        id_col,
        "cluster",
        F.lit(stats["n_iter"]).alias("n_iter"),
        F.lit(stats["final_shift"]).alias("final_shift"),
        F.lit(stats["converged"]).alias("converged"),
    )


def kmeans_centroids(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> np.ndarray:
    """The fitted (k × dim) centroid matrix from the same Lloyd loop as
    :func:`kmeans_fit` — the build artifact an IVF index partitions on."""
    _, C, _ = _lloyd(
        df, id_col=id_col, vec_col=vec_col, k=k, max_iter=max_iter, tol=tol
    )
    return C


def _nearest_udf(sc, C: np.ndarray):
    """Arrow-vectorized nearest-centroid assignment against a broadcast
    copy of the centroid matrix (squared euclidean via the expansion
    trick; one BLAS call per batch)."""
    bc = sc.broadcast(C)

    @pandas_udf("int")
    def _nearest(v: pd.Series) -> pd.Series:
        X = np.array(v.tolist(), dtype=np.float64)
        Cm = bc.value
        d = -2.0 * (X @ Cm.T) + (Cm * Cm).sum(axis=1)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return _nearest


def _lloyd(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    max_iter: int,
    tol: float,
) -> tuple[DataFrame, np.ndarray, dict]:
    base = df.select(F.col(id_col), F.col(vec_col))
    # materialize the loop-invariant 2-column point projection ONCE:
    # every Lloyd round otherwise re-scans the source table —
    # max_iter+2 full table reads at 100 TB (init + rounds + final
    # assignment) where one materialization suffices.  Same
    # loop-invariant-build-side lesson as the pagerank edge cache,
    # but the cheap spelling here is an eager localCheckpoint (row-
    # format blocks): a MEMORY_AND_DISK persist pays the columnar
    # in-memory conversion for the array<float> column, measured
    # SLOWER than re-scanning pruned parquet (25×: warm 11.4 s vs
    # 8.1 s uncached vs 7.0 s checkpointed — A/B in SCALE.md).  No
    # repartition needed: assignment is map-only and the centroid
    # update's shuffle carries k×dim partial sums regardless of
    # layout.  Blocks free when the fit's references drop (the
    # repo-wide localCheckpoint loop discipline).
    # On a plain scan (the registered k-means callers) base has no
    # upstream shuffle, so localCheckpoint(eager=False) runs no job at
    # the call; above a shuffle, AQE would run that shuffle stage at
    # the call.  The deterministic-init toPandas below is the first
    # action and materializes the blocks, instead of an
    # eager-checkpoint job followed by a separate init read (blocks
    # and rows identical).
    base = base.localCheckpoint(eager=False)
    C = np.array(
        base.orderBy(id_col).limit(k).toPandas()[vec_col].tolist(),
        dtype=np.float64,
    )
    sc = df.sparkSession.sparkContext
    shift = float("inf")
    n_iter = 0
    for _ in range(max_iter):
        n_iter += 1
        assigned = base.withColumn(
            "cluster", _nearest_udf(sc, C)(F.col(vec_col))
        )
        sums = (
            assigned.select(
                "cluster", F.posexplode(vec_col).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        newC = C.copy()
        for r in sums:
            newC[r.cluster, r.dim] = r.s / r.n
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift < tol:
            break
    # labels must reflect the RETURNED centroids: recompute the
    # assignment once against the final C (one extra lazy projection,
    # no extra action here, and it reads the checkpointed points, not
    # the source) — otherwise labels trail the centroid matrix by half
    # a Lloyd step whenever max_iter is hit first
    assigned = base.withColumn("cluster", _nearest_udf(sc, C)(F.col(vec_col)))
    stats = {
        "n_iter": n_iter,
        "final_shift": shift,
        "converged": shift < tol,
    }
    return assigned, C, stats


# --- IVF ---------------------------------------------------------------------


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
    round_to: int = 6,
    fit_iters: int = 5,
) -> DataFrame:
    """Inverted-file ANN: assign corpus vectors to their nearest
    centroid cell (build side, one corpus pass), then each query probes
    its ``n_probe`` nearest cells and ranks only those vectors.

    Centroids come from a k-means fit over the unit-normalized corpus
    (:func:`kmeans_centroids`, ``fit_iters`` Lloyd rounds from a
    deterministic lowest-id init), re-normalized to the unit sphere so
    the dot-product cell probe is the true nearest-centroid rule —
    fitted cells track the corpus density, which is what lifts recall
    over a raw corpus sample (``fit_iters=0`` reproduces the old
    sampler).  The (tiny) centroid matrix is collected once and
    broadcast; each corpus/query row finds its nearest cells with one
    numpy matmul per Arrow batch (the expression-tree alternative pays
    corpus × n_cells interpreted lambda folds — the known array-HOF
    hotspot).  Corpus is shuffled once on cell id; queries broadcast.
    """
    corpus = corpus.select(
        F.col(id_col), unit_udf()(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint(eager=False)
    queries = queries.select(
        F.col(id_col), unit_udf()(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint(eager=False)
    if fit_iters > 0:
        Ck = kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col, k=n_cells, max_iter=fit_iters
        )
    else:
        Ck = np.array(
            corpus.orderBy(id_col)
            .limit(n_cells)
            .select(F.col(vec_col))
            .toPandas()[vec_col]
            .tolist(),
            dtype=np.float64,
        )
    C = (Ck / _safe_norm(Ck)).T  # (dim, cells), unit columns
    bc = corpus.sparkSession.sparkContext.broadcast(C)

    def nearest_cells(df: DataFrame, role: str, n_keep: int) -> DataFrame:
        @pandas_udf("array<int>")
        def _cells(v: pd.Series) -> pd.Series:
            C = bc.value
            X = np.array(v.tolist(), dtype=np.float64)
            S = np.round(X @ C, 9)  # (batch, cells)
            # exact (sim desc, cell asc) order, like the window form
            order = np.lexsort(
                (np.broadcast_to(np.arange(S.shape[1]), S.shape), -S), axis=1
            )[:, :n_keep]
            return pd.Series(list((order + 1).astype(np.int32)))

        return df.select(
            F.col(id_col).alias(f"{role}_vec"),
            F.explode(_cells(F.col(vec_col))).alias("cell"),
        )

    # candidates travel as (id, cell) ints; embeddings join back by id
    # for the verify dot — no array rides the cell join or distinct
    c_assigned = nearest_cells(corpus, "n", 1)
    q_probes = nearest_cells(queries, "q", n_probe)
    cand = (
        c_assigned.join(q_probes, "cell")
        .filter(F.col("n_vec") != F.col("q_vec"))
        .select("q_vec", "n_vec")
        .distinct()
    )
    qe = queries.select(F.col(id_col).alias("q_vec"), F.col(vec_col).alias("q_emb"))
    ne = corpus.select(F.col(id_col).alias("n_vec"), F.col(vec_col).alias("n_emb"))
    sims = (
        cand.join(F.broadcast(qe), "q_vec")
        .join(ne, "n_vec")
        .select(
            "q_vec",
            "n_vec",
            dot_udf(round_to)(F.col("q_emb"), F.col("n_emb")).alias("sim"),
        )
    )
    from tmp_parquet_merge_spark.operators.relational import grouped_top_k

    return grouped_top_k(sims, ["q_vec"], [F.col("sim").desc(), F.col("n_vec")], k)


def _pq_train(sample: np.ndarray, m: int, ksub: int, iters: int) -> np.ndarray:
    """NumPy Lloyd per subspace over a bounded training sample:
    returns the (m, ksub, dsub) codebook tensor.  Deterministic init
    (first ``ksub`` distinct rows per subspace); runs on the driver —
    the sample is capped, the codebook is the broadcast-able build
    artifact, exactly like the IVF centroid matrix."""
    n, d = sample.shape
    if d % m != 0:
        raise ValueError(
            f"PQ subspace split requires dim % m == 0, got dim={d} m={m} "
            f"(trailing dimensions would be silently dropped)"
        )
    if n < ksub:
        raise ValueError(
            f"PQ training sample has {n} rows < ksub={ksub}; "
            f"raise train_cap or lower ksub"
        )
    dsub = d // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        X = sample[:, s * dsub : (s + 1) * dsub]
        # dedup init rows so coincident samples don't collapse cells
        _, first_idx = np.unique(X.round(9), axis=0, return_index=True)
        init = X[np.sort(first_idx)[:ksub]]
        if len(init) < ksub:
            # fewer DISTINCT rows than cells: tile the distinct rows
            # (cycling) instead of re-appending sample rows that are
            # almost certainly already in init — duplicate centroids
            # are unavoidable here, but every distinct value keeps a
            # cell and Lloyd can still split the tiled ones apart
            reps = -(-ksub // len(init))
            C = np.tile(init, (reps, 1))[:ksub]
        else:
            C = init
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(ksub):
                pick = X[a == j]
                if len(pick):
                    C = C.copy()
                    C[j] = pick.mean(axis=0)
        books[s] = C
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    k: int = 10,
    rerank_factor: int = 4,
    train_cap: int = 2048,
    fit_iters: int = 8,
    round_to: int = 6,
    query_cap: int = 1024,
) -> DataFrame:
    """Product-quantization ANN (the FAISS-IVFPQ building block, scan
    side): corpus vectors are unit-normalized, split into ``m``
    subspaces, and encoded as ``m`` one-byte codes against per-subspace
    ``ksub``-centroid codebooks — 64 floats become 4 bytes, the ~64×
    state compression that lets a 100 TB embedding corpus's index fit
    in executor memory.  Queries score candidates by asymmetric
    distance (ADC): per query a tiny (m × ksub) lookup table of
    subspace dot products is built once, and each corpus code row costs
    ``m`` table lookups — no float vector is touched until the exact
    re-rank on the surviving ``rerank_factor × k`` candidates.

    Build: codebooks train driver-side on a deterministic capped
    sample (lowest ``train_cap`` ids — bounded artifact, standard PQ
    practice; the *serving* passes are fully distributed).  Encode is
    one Arrow batch matmul per subspace; scoring streams the code
    table once with batch-local pruning (same discipline as
    brute_force_topk); the final exact re-rank joins embeddings back
    by id only for candidates.
    """
    corpus = corpus.select(
        F.col(id_col), unit_udf()(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint(eager=False)
    queries = queries.select(
        F.col(id_col), unit_udf()(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint(eager=False)
    sample = np.array(
        corpus.orderBy(id_col)
        .limit(train_cap)
        .select(vec_col)
        .toPandas()[vec_col]
        .tolist(),
        dtype=np.float64,
    )
    books = _pq_train(sample, m=m, ksub=ksub, iters=fit_iters)
    sc = corpus.sparkSession.sparkContext
    bb = sc.broadcast(books)

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        B = bb.value
        mm, kk, dsub = B.shape
        X = np.array(v.tolist(), dtype=np.float64)
        codes = np.empty((len(X), mm), dtype=np.int32)
        for s in range(mm):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = (
                -2.0 * (Xs @ B[s].T)
                + (B[s] * B[s]).sum(axis=1)[None, :]
            )
            codes[:, s] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    coded = corpus.select(
        F.col(id_col), _encode(F.col(vec_col)).alias("codes")
    )

    qpdf = _pull_queries(queries, id_col, vec_col, query_cap)
    q_ids = np.array(qpdf[id_col], dtype=np.int64)
    Q = np.array(qpdf[vec_col].tolist(), dtype=np.float64)
    # ADC tables: luts[q, s, j] = <Q[q] subspace s, codebook[s, j]>
    mm, kk, dsub = books.shape
    luts = np.empty((len(Q), mm, kk), dtype=np.float64)
    for s in range(mm):
        luts[:, s, :] = Q[:, s * dsub : (s + 1) * dsub] @ books[s].T
    bq = sc.broadcast((q_ids, luts))
    n_keep = k * rerank_factor

    def adc(batches):
        q_ids, luts = bq.value
        for pdf in batches:
            ids = np.array(pdf[id_col], dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            # S[q, b] = Σ_s luts[q, s, codes[b, s]]
            S = np.zeros((len(q_ids), len(ids)), dtype=np.float64)
            for s in range(codes.shape[1]):
                S += luts[:, s, codes[:, s]]
            out_q, out_n = [], []
            for qi, qid in enumerate(q_ids):
                col = S[qi]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:n_keep]
                pick = cand_idx[order]
                out_q.extend([qid] * len(pick))
                out_n.extend(ids[pick])
            yield pd.DataFrame({"q_vec": out_q, "n_vec": out_n})

    cand = coded.mapInPandas(adc, schema="q_vec long, n_vec long")
    # exact re-rank on candidates only: embeddings join back by id
    qe = queries.select(
        F.col(id_col).alias("q_vec"), F.col(vec_col).alias("q_emb")
    )
    ne = corpus.select(
        F.col(id_col).alias("n_vec"), F.col(vec_col).alias("n_emb")
    )
    scored = (
        cand.join(qe, "q_vec")
        .join(ne, "n_vec")
        .select(
            "q_vec",
            "n_vec",
            dot_udf(round_to)(F.col("q_emb"), F.col("n_emb")).alias("sim"),
        )
    )
    from tmp_parquet_merge_spark.operators.relational import grouped_top_k

    return grouped_top_k(
        scored, ["q_vec"], [F.col("sim").desc(), F.col("n_vec")], k
    )


def quantize_int8(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127
    (1.0 for all-zero vectors), codes as a '|'-joined string, plus the
    reconstruction RMSE — the 4× embedding-compression step before ANN
    indexing.

    Map-only plan: one scan, zero exchanges.  All built-in array
    expressions; the per-element squared errors fold in-row as
    DECIMAL(28,12) so the sum is bit-stable regardless of fold order
    (cross-engine oracle parity, q_embedding_quantize).  The rounded
    scale is emitted from a SECOND projection — aliasing
    round(scale, 6) AS scale in the same select would let Spark's
    lateral-column-alias resolution rebind the lambdas to the rounded
    value.
    """
    xd = F.transform(vec_col, lambda x: x.cast("double"))
    base = df.select(F.col(id_col), xd.alias("__xd"))
    m = F.array_max(F.transform("__xd", lambda x: F.abs(x)))
    s = base.withColumn(
        "scale",
        F.when(m == 0, F.lit(1.0)).otherwise(m / F.lit(127.0)),
    )
    q8 = F.array_join(
        F.transform(
            "__xd",
            lambda x: F.round(x / F.col("scale")).cast("int").cast("string"),
        ),
        "|",
    )
    c_sum = F.aggregate(
        F.transform(
            "__xd",
            lambda x: F.round(
                F.pow(
                    x - F.round(x / F.col("scale")) * F.col("scale"),
                    F.lit(2.0),
                ),
                12,
            ).cast("decimal(28,12)"),
        ),
        F.lit(0).cast("decimal(28,12)"),
        # (28,12)+(28,12) promotes to (29,12) — same scale, so the cast
        # back is exact (values ≤ 64·(scale/2)², far from the ceiling)
        lambda acc, c: (acc + c).cast("decimal(28,12)"),
    )
    out = s.select(
        F.col(id_col),
        "scale",
        q8.alias("q8"),
        F.round(F.sqrt(c_sum.cast("double") / F.size("__xd")), 6).alias(
            "rmse"
        ),
    )
    return out.select(
        F.col(id_col), F.round("scale", 6).alias("scale"), "q8", "rmse"
    )


def hard_negatives(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_pred=None,
    k: int = 5,
    round_to: int = 6,
    query_cap: int = 1024,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training
    (Karpukhin et al. 2020, DPR): for each query vector, the ``k``
    most-similar corpus vectors with a DIFFERENT label — the
    near-boundary negatives that make a dual encoder learn more than
    random in-batch negatives do.

    Same 100 TB plan as :func:`brute_force_topk` (this is its
    label-constrained sibling): broadcast the bounded query matrix
    (ids, labels, unit rows), stream the corpus once through
    mapInPandas, score each Arrow batch against all queries with one
    BLAS matmul, mask SAME-label and self candidates, keep the
    batch-local top-k — only ~k rows per (query, batch) leave the
    scan; the final rank merges the pruned set with one window.
    Similarity is rounded before ranking so ties resolve identically
    in any engine, then ``n_vec`` breaks them totally.
    """
    queries = df.filter(query_pred) if query_pred is not None else df
    qpdf = (
        queries.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .limit(query_cap + 1)
        .toPandas()
    )
    if len(qpdf) > query_cap:
        raise ValueError(
            f"hard_negatives: query set exceeds query_cap={query_cap}"
        )
    q_ids = np.array(qpdf[id_col], dtype=np.int64)
    q_labels = np.array(qpdf[label_col], dtype=np.int64)
    Q = np.array(qpdf[vec_col].tolist(), dtype=np.float64)
    Qn = Q / _safe_norm(Q)
    bq = df.sparkSession.sparkContext.broadcast((q_ids, q_labels, Qn))

    def score(batches):
        q_ids, q_labels, Qn = bq.value
        for pdf in batches:
            ids = np.array(pdf[id_col], dtype=np.int64)
            labels = np.array(pdf[label_col], dtype=np.int64)
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            Xn = X / n
            S = np.round(Xn @ Qn.T, round_to)
            out_q, out_n, out_l, out_s = [], [], [], []
            for j, qid in enumerate(q_ids):
                col = S[:, j]
                mask = (ids != qid) & (labels != q_labels[j])
                cand_idx = np.nonzero(mask)[0]
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                pick = cand_idx[order]
                out_q.extend([qid] * len(pick))
                out_n.extend(ids[pick])
                out_l.extend(labels[pick])
                out_s.extend(col[pick])
            yield pd.DataFrame(
                {
                    "q_vec": out_q,
                    "n_vec": out_n,
                    "n_label": out_l,
                    "sim": out_s,
                }
            )

    sims = df.select(F.col(id_col), F.col(vec_col), F.col(label_col)).mapInPandas(
        score, schema="q_vec long, n_vec long, n_label long, sim double"
    )
    from tmp_parquet_merge_spark.operators.relational import grouped_top_k

    return grouped_top_k(
        sims, ["q_vec"], [F.col("sim").desc(), F.col("n_vec")], k
    )


def embedding_drift(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Per-label embedding-distribution drift between two corpus
    snapshots (reference = even ids, current = odd ids — the
    split-by-ingest-parity stand-in for consecutive crawl snapshots):
    the cosine between each label's reference and current MEAN
    vectors, plus the mean-vector L2 norms.  Centroid cosine ≈ 1 means
    the label's embedding distribution is stable; a drop is the
    classic cheap drift alarm a training pipeline runs before
    re-clustering or re-weighting (the monitoring half of
    SemDeDup-style curation).

    Cross-engine exactness: per-(label, side, dim) component sums are
    DECIMAL(28,12) (order-independent — float summation order differs
    between engines), means and the final cosine are single double
    divisions rounded once.  Plan shape: one posexplode pass (n·dim
    int/decimal rows), a (labels × 2 × dim)-row hash-agg, then a
    |labels|-row assembly agg — nothing scales past n·dim."""
    side = (F.col(id_col) % 2).alias("side")
    comp = df.select(
        F.col(label_col).alias("label"),
        side,
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    ).select(
        "label",
        "side",
        "dim",
        F.col("v").cast("double").cast("decimal(28,12)").alias("v"),
    )
    sums = comp.groupBy("label", "side", "dim").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n")
    )
    means = sums.select(
        "label",
        "side",
        "dim",
        (F.col("sv").cast("double") / F.col("n")).alias("m"),
        "n",
    )
    a = means.filter(F.col("side") == 0).select(
        "label", "dim", F.col("m").alias("ma"), F.col("n").alias("n_ref")
    )
    b = means.filter(F.col("side") == 1).select(
        "label", "dim", F.col("m").alias("mb"), F.col("n").alias("n_cur")
    )
    j = a.join(b, ["label", "dim"])
    agg = j.groupBy("label").agg(
        # MAX, not FIRST: n is constant per (label, side) only when all
        # vectors in the group share a length; F.first is
        # nondeterministic and the DuckDB oracle spells MAX, so a
        # ragged-length group would make the driver hash flaky
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum(F.col("ma") * F.col("mb")).alias("dot"),
        F.sum(F.col("ma") * F.col("ma")).alias("na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("nb2"),
    )
    return agg.select(
        "label",
        "n_ref",
        "n_cur",
        F.round(
            F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), round_to
        ).alias("centroid_cosine"),
        F.round(F.sqrt("na2"), round_to).alias("ref_norm"),
        F.round(F.sqrt("nb2"), round_to).alias("cur_norm"),
    )
