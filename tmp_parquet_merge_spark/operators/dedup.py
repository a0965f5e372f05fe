"""Deduplication operators for LLM training-data pipelines.

The reference slice has no dedup (SURVEY.md §0); these are mandated by
the north star (BASELINE.json: "dedup, similarity search, multimodal
columns, text analysis").  All Spark-first, designed for 100 TB:

  * exact dedup       — group by sha2(normalized text): only a 32-byte
                        digest shuffles, never the document body.
  * n-gram Jaccard    — exact near-dup verification over candidate
                        pairs that share ≥1 shingle (the verify stage
                        of a candidate-generation pipeline).
  * MinHash + LSH     — the scale path: K seeded murmur3 minima →
                        B banded keys → self-join on band buckets.
                        Shuffle volume is O(docs × B), independent of
                        document length; candidate pairs are verified
                        with true Jaccard so false positives drop out.
  * SimHash           — 64-bit signature via per-bit majority vote of
                        token hashes, computed entirely JVM-side (one
                        explode + one groupBy; no Python).

The shingle-set operators share one boundary between candidate
generation and scoring: the pair-counts relation
``(doc_a, doc_b, n_inter, n_a, n_b)``.  Candidate generators produce it
— the all-pairs shared-shingle join (:func:`_shingle_pair_counts`), or
MinHash band keys and the rare-shingle index, each verified by
:func:`_set_counts` — and scorers read it: :func:`_jaccard_pairs` and
:func:`_containment_pairs` hold the only spelling of each formula.
The MinHash side feeds it from one doc-keyed stage,
:func:`_minhash_docs`: a single ``groupBy("doc")`` computes each
document's shingle set and signature behind one checkpoint
``(doc, sh, sig)``; the band rows (:func:`_band_rows` →
:func:`_band_candidates`) and both sides of the verify read it.  The
rare-shingle index computes no signatures and keeps its
candidate-docs-only :func:`_shingle_sets`.

Two boundaries are crossed a constant number of times per call, not
once per lane or per round:

  * Python ↔ JVM — wide columns (the MinHash lanes, the band keys,
    the SimHash votes and fold) are each ONE ``F.expr`` generated from
    integers, not one py4j-built ``Column`` per lane.
  * driver ↔ scheduler — :func:`dedup_clusters` pulls a near-dup graph
    of up to ``_DRIVER_EDGES`` edges to the driver in one Arrow
    collect, solves its components in numpy and returns the labels as
    an Arrow LocalRelation; only larger graphs run the distributed
    min-label propagation, one checkpoint and probe per round.
The Hamming-space operators (SimHash here, perceptual media hashes in
``multimodal``) share the multi-index core beside
``multimodal._ball_masks``: :func:`multimodal._mih_ball` sizes and
enumerates the probe ball, :func:`multimodal._mih_pairs` runs the
probe join and the exact ``bit_count`` verify.

Everything below stays in built-in pyspark.sql.functions (whole-stage
codegen); there are no Python UDFs in any hot path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Conditionally repartition a scan whose split count is below the
    cluster's default parallelism (guide §2.5
    "input skew — one huge unsplittable file: repartition immediately
    after the read").

    Why: a single small parquet file (or one gzip shard of a crawl) is
    one row group — ONE scan task — so every pre-exchange projection
    and every map-side partial aggregate above it (tokenize + hash +
    64 vote sums in simhash, shingle explode + lead-window feed, gram
    slicing) runs on one core of the whole cluster.  When the scan
    already has ≥ defaultParallelism splits — any real multi-file /
    multi-row-group dataset, 100 TB included — this is a NO-OP by
    construction: no shuffle is added at scale, so it is a runtime
    parallelism floor, not a local-mode constant.

    ``keys``: hash-repartition on these columns (deterministic layout;
    pass the downstream per-document key so a following
    Window.partitionBy / groupBy on the same key reuses the exchange
    instead of adding its own).  Without keys, round-robin.

    Only layout changes; caller results must be layout-invariant
    (integer/min/max/count aggregates, set semantics) — every call
    site is, and oracle parity at all bundled tiers plus the
    local[5]-vs-local[32] probe pin it.

    Probe cost: the
    precise split count needs a driver-side plan→RDD conversion
    (``df.rdd``) — one extra physical-planning pass per query build.
    Two cheap short-circuits bound it: (a) a DataFrame this helper has
    already processed carries a marker and returns immediately, so
    operators composed of spread-calling helpers (repetition_ratio →
    shingle_rows) pay ONE probe, not two; (b) when the scan's FILE
    count alone already proves enough splits (a split packs at most
    maxPartitionBytes/openCostInBytes files, so splits ≥ files/pack
    — any real many-file dataset), the no-op is decided from the
    relation's file list without planning the RDD at all; (c) with
    ``defaultParallelism <= 4`` a scan of at least one file has at
    least one split, which already meets the gate below, so the probe
    (~0.03 s) is skipped there."""
    if getattr(df, "_tpms_spread_checked", False):
        return df
    spark = df.sparkSession
    target = int(spark.sparkContext.defaultParallelism)
    try:
        mpb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        oc = _parse_bytes(spark.conf.get("spark.sql.files.openCostInBytes"))
        pack = max(1, mpb // max(oc, 1))
        n_files = len(df.inputFiles())
        if n_files * 4 >= target * pack or (n_files and target <= 4):
            df._tpms_spread_checked = True
            return df
    except Exception:
        pass  # fall through to the precise probe
    try:
        have = df.rdd.getNumPartitions()
    except Exception:  # planning failure: leave the scan alone
        return df
    # fire only on a SEVERE parallelism shortfall, more than 4x: a scan
    # with most-of-target splits gains little from re-spreading but would
    # pay a full data shuffle for it (measured at the 25x replica:
    # 25 splits re-spread to 32 cost q_sql_tpch_q1 a 15M-row exchange
    # for a 25->32 task gain — a 9x regression; with the 4x gate the
    # replica is a no-op and the single-split local files still fire)
    if have * 4 >= target:
        df._tpms_spread_checked = True
        return df
    out = df.repartition(target, *keys) if keys else df.repartition(target)
    out._tpms_spread_checked = True
    return out


def _parse_bytes(s: str) -> int:
    """Spark byte-conf string → int bytes ("4m", "128MB", "4194304")."""
    s = s.strip().lower().removesuffix("b")
    for suf, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("t", 1 << 40)):
        if s.endswith(suf):
            return int(float(s[:-1]) * mult)
    return int(s)


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup: lowercase, trim, collapse runs of
    whitespace.  Keep in sync with the DuckDB oracle spelling
    ``regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')``.

    The whitespace class is spelled out as ``[ \\t\\n\\f\\r]`` rather
    than ``\\s``: Java's ``\\s`` additionally matches vertical tab
    (\\x0B) while DuckDB/RE2's does not, so a document containing
    \\x0B would normalize — and therefore content-hash — differently
    on the two engines.  The explicit class is the RE2 meaning on
    both sides."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"[ \t\n\f\r]+", " ")


def words(col: Column | str) -> Column:
    return F.split(normalize_text(col), " ")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as an array.

    Short docs (< n words) produce their single full-text shingle, so
    every document has ≥1 shingle and can never silently drop out of a
    near-dup pipeline.

    NOTE: array-lambda expressions are interpreted per element (and
    ``array_distinct`` is O(n²) per row), so hot paths should use
    :func:`shingle_rows` (codegen explode/window/hash-agg) instead;
    this column form exists for per-candidate verify joins where the
    whole array is needed in one row.
    """
    c = F.col(col) if isinstance(col, str) else col
    ws = words(c)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        )
    )


def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles as (doc, s) rows — the codegen
    formulation: posexplode words → n-1 ``lead``s over (doc, pos) →
    concat → distinct via hash-agg.  Everything whole-stage-codegens;
    the one shuffle (by doc) is reused by downstream per-doc
    aggregations.  Semantics identical to :func:`word_shingles`
    (``concat_ws`` skips trailing NULL leads, covering short docs)."""
    from pyspark.sql import Window

    # parallelism floor for deficient scans (no-op at scale); keyed by
    # the doc id so the lead-window's (doc)-clustering reuses this
    # exchange — the window then adds only a sort, never a shuffle of
    # the exploded word rows (guide §2.4)
    df = spread_scan(df, id_col)
    ex = df.select(
        F.col(id_col).alias("doc"), F.posexplode(words(text_col)).alias("pos", "w")
    )
    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, n)]
    sh = ex.select(
        "doc",
        "pos",
        F.concat_ws(" ", *leads).alias("s"),
        F.lead("w", n - 1).over(w).alias("__full"),
    )
    # keep full n-grams; position 1 survives unconditionally so short
    # docs (< n words) contribute their single partial shingle
    sh = sh.filter(F.col("__full").isNotNull() | (F.col("pos") == 0))
    return sh.select("doc", "s").distinct()


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate grouping over normalized text.

    Returns one row per distinct content with the minimum id as the
    representative and the duplicate count.  Grouping key is
    ``sha2(normalized, 256)`` so at 100 TB the shuffle carries 32-byte
    digests, not document bodies (collision odds ~2^-128 — the standard
    content-hash dedup contract).
    """
    h = F.sha2(normalize_text(text_col), 256)
    g = (
        df.select(F.col(id_col), h.alias("content_sha"))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )
    return g


def prefix_dedup(
    df: DataFrame, text_col: str, id_col: str, *, n_words: int = 20
) -> DataFrame:
    """Dedup by the first ``n_words`` normalized words — catches
    truncation duplicates (same article cut at different lengths) and
    shared boilerplate heads that exact full-text dedup misses.  Same
    contract as :func:`exact_dedup`: the shuffle carries the 32-byte
    digest of the prefix, one row per distinct prefix with the minimum
    id and the duplicate count."""
    prefix = F.array_join(F.slice(words(text_col), 1, n_words), " ")
    return (
        df.select(F.col(id_col), F.sha2(prefix, 256).alias("prefix_sha"))
        .groupBy("prefix_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def _substring_qual_runs(
    d: DataFrame, *, k: int, min_len: int, digest_grams: bool = False
) -> DataFrame:
    """Shared pipeline of :func:`substring_dup_spans` /
    :func:`substring_clean`: from a ``(_id, ws)`` words relation, the
    qualifying marked-run positions ``(_id, i, isl)`` — every sliding
    ``k``-gram start position whose gram occurs in ≥ 2 distinct docs,
    restricted to maximal consecutive runs spanning ≥ ``min_len``
    words.  One gram-keyed hash-agg (broadcast semi-join back) plus
    doc-partitioned windows; see the callers' docstrings for the
    scale contract.

    ``digest_grams=True`` is the open-scale storage-and-wire spelling:
    the gram column itself is ``xxhash64(gram)`` — hashed BEFORE the
    checkpoint, so the materialized gram relation AND the doc-frequency
    shuffle both carry 8 bytes per row instead of the ≤``k``-word
    string.  Output is identical barring a 64-bit digest collision
    that lands a non-shared gram's digest in the shared set (either
    two singleton grams colliding, ~n²/2⁶⁵, or a singleton colliding
    with one of the s shared digests, ~n·s/2⁶⁴ — both vanishing;
    tests pin equality on the bundled corpora).  The registered
    queries keep the string spelling so the DuckDB oracle stays
    exact.

    Returns ``(grams, spans)``: the checkpointed (eager=False) gram relation
    ``(_id, i, gram)`` — from which callers derive per-doc word counts
    as ``max(i) + k`` without re-scanning or pinning the corpus — and
    the qualifying-run rows ``(_id, i, isl, span)``."""
    from pyspark.sql import Window

    n = F.size("ws")
    gram_str = F.concat_ws(
        " ", F.slice(F.col("ws"), (F.col("i") + 1).cast("int"), k)
    )
    grams = (
        d.filter(n >= k)
        .select(
            "_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), (n - k).cast("long"))
            ).alias("i"),
            "ws",
        )
        .select(
            "_id",
            "i",
            (F.xxhash64(gram_str) if digest_grams else gram_str).alias(
                "gram"
            ),
        )
        # multiple consumers (the doc-frequency agg, the semi-join
        # back, and the callers' n_words derivation); checkpoint so
        # the explode+slice projection runs once — in digest mode the
        # materialized rows carry the 8-byte hash, never the string
        .localCheckpoint(eager=False)
    )
    shared = (
        grams.select("gram", "_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram")
    )
    qual = grams.join(shared, "gram", "left_semi").select("_id", "i")
    by_pos = Window.partitionBy("_id").orderBy("i")
    run = Window.partitionBy("_id", "isl")
    spans = (
        qual.withColumn("isl", F.col("i") - F.row_number().over(by_pos))
        .withColumn(
            "span", F.max("i").over(run) - F.min("i").over(run) + F.lit(k)
        )
        .filter(F.col("span") >= min_len)
    )
    return grams, spans


def substring_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 10,
    min_len: int = 20,
    digest_grams: bool = False,
) -> DataFrame:
    """Cross-document repeated-substring spans at ARBITRARY word
    boundaries — the Spark-native approximation of exact substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": remove substrings ≥ 50 BPE tokens that
    repeat in the corpus, found with a suffix array).  A distributed
    suffix array is impractical; the standard relational approximation
    is: emit every SLIDING ``k``-word gram with its position, mark
    positions whose gram occurs in ≥ 2 distinct documents, and report
    each maximal run of consecutive marked positions spanning
    ≥ ``min_len`` words.  Unlike :func:`q_dedup_segments`'s aligned
    stride-``k`` windows, sliding grams catch repeats at any offset —
    the sub-document duplication aligned windows miss when the shared
    stretch starts mid-window.

    Returns one row per document that has ≥ 1 qualifying span:
    ``(id, n_words, dup_spans, dup_words, frac_dup)`` where
    ``dup_words`` is the UNION word-cover of qualifying positions
    (adjacent spans may overlap in cover; the lag-capped sum
    ``Σ min(iₜ − iₜ₋₁, k)`` computes the union exactly) and
    ``frac_dup = dup_words / n_words`` rounded to 6 places.

    Scale shape (100 TB): gram rows are O(total words), each carrying
    a ≤ ``k``-word string; the only corpus-wide shuffle is the
    doc-frequency hash-agg keyed by gram (at open scale pass
    ``digest_grams=True`` and both the materialized gram relation and
    the shuffle carry 8-byte ``xxhash64`` keys — the q_dedup_exact
    digest discipline; the registered string spelling keeps the DuckDB
    oracle exact).  Per-doc word counts derive from the gram relation
    (``max(i) + k``), so the corpus is scanned once and nothing but
    the gram relation is materialized.  The run/cover windows
    partition by document id, so their sort extent is bounded by
    document length; nothing is quadratic in corpus size.
    """
    # parallelism floor for deficient scans (no-op at scale): gram
    # slicing + the checkpointed gram relation materialize
    # cluster-parallel instead of inside a single scan task
    d = spread_scan(df, id_col).select(
        F.col(id_col).alias("_id"), words(text_col).alias("ws")
    )
    grams, spans = _substring_qual_runs(
        d, k=k, min_len=min_len, digest_grams=digest_grams
    )
    from pyspark.sql import Window

    by_pos = Window.partitionBy("_id").orderBy("i")
    cov = (
        spans.withColumn("prev", F.lag("i").over(by_pos))
        .withColumn("prev_isl", F.lag("isl").over(by_pos))
        .select(
            "_id",
            # a new span starts at the first qualifying position and at
            # every island change (spelled with lag, not countDistinct:
            # a distinct-agg would Expand-double the rows for no gain)
            F.when(
                F.col("prev_isl").isNull()
                | (F.col("prev_isl") != F.col("isl")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("new_span"),
            F.when(F.col("prev").isNull(), F.lit(k).cast("long"))
            .otherwise(F.least(F.col("i") - F.col("prev"), F.lit(k).cast("long")))
            .alias("c"),
        )
    )
    per = cov.groupBy("_id").agg(
        F.sum("new_span").cast("long").alias("dup_spans"),
        F.sum("c").cast("long").alias("dup_words"),
    )
    # n_words from the already-checkpointed gram relation (gram
    # positions span 0..n-k, so n = max(i) + k): no second corpus scan
    # and no corpus-array checkpoint just to count words — every doc
    # with a qualifying span has grams by construction
    nw = grams.groupBy("_id").agg(
        (F.max("i") + F.lit(k)).cast("long").alias("n_words")
    )
    return (
        per.join(nw, "_id")
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            "dup_spans",
            "dup_words",
            F.round(F.col("dup_words") / F.col("n_words"), 6).alias(
                "frac_dup"
            ),
        )
    )


def substring_clean(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 10,
    min_len: int = 20,
    digest_grams: bool = False,
) -> DataFrame:
    """The ACTION half of :func:`substring_dup_spans` — rewrite every
    document with its qualifying cross-document repeated-substring
    word cover REMOVED (the removal step of Lee et al. 2022), keeping
    the surviving words in order.  Exactly one output row per input
    document: unaffected docs (including docs under ``k`` words) pass
    through as their normalized text; a doc that was entirely repeated
    text comes back as the empty string, never silently disappears.
    Returns ``(id, clean_text, n_dropped)`` where ``n_dropped`` is the
    number of removed word positions (== substring_dup_spans'
    ``dup_words`` for affected docs, 0 otherwise).

    Scale shape: on top of the shared marked-run pipeline this adds a
    position-explode of the qualifying spans (bounded by total words),
    a posexplode of the words relation (O(total words) rows, one word
    each — never whole documents), a doc+position anti-join, and the
    order-safe ``array_sort(collect_list(struct(pos, word)))``
    reassembly hash-agg (bare collect_list has no ordering contract).
    All shuffles are keyed by (doc id) or (doc id, position); nothing
    is quadratic in corpus size."""
    # d is read twice (grams source inside _substring_qual_runs and
    # the wordrows posexplode below) but deliberately NOT checkpointed:
    # a checkpoint would pin O(corpus) split-word arrays on executor
    # storage and replace the column-pruned parquet scan with an
    # ExistingRDD scan — at open scale two pruned scans are cheaper
    # than materializing the corpus (the grams relation, which digest
    # mode shrinks to 8-byte keys, is the only materialized state)
    d = spread_scan(df, id_col).select(
        F.col(id_col).alias("_id"), words(text_col).alias("ws")
    )
    _, spans = _substring_qual_runs(
        d, k=k, min_len=min_len, digest_grams=digest_grams
    )
    covered = (
        spans.select(
            "_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))
            ).alias("w"),
        )
        .distinct()
        # two consumers (the kept anti-join and the dropped-count agg):
        # without this the whole marked-run pipeline — the corpus-wide
        # gram doc-frequency agg included — would execute twice
        .localCheckpoint(eager=False)
    )
    wordrows = d.select("_id", F.posexplode("ws").alias("w", "word"))
    kept = wordrows.join(covered, ["_id", "w"], "left_anti")
    clean = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text")
    )
    dropped = covered.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped")
    )
    return (
        d.select("_id")
        .join(clean, "_id", "left")
        .join(dropped, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_dropped", F.lit(0).cast("long")).alias(
                "n_dropped"
            ),
        )
    )


def editdist_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    prefix_words: int = 2,
    max_rel_dist_pct: int = 20,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs with prefix blocking:
    candidates are documents sharing their first ``prefix_words``
    normalized words (an equi-join on the blocking key, never an
    all-pairs product); a pair survives when the edit distance is at
    most ``max_rel_dist_pct`` percent of the longer text.  The
    threshold compares as pure integers (100·lev ≤ pct·maxlen) so both
    engines agree at the boundary — no float-literal comparisons.

    This is the character-level verify stage complementing the
    shingle-Jaccard one (ngram_jaccard_pairs): it catches small-edit
    duplicates (typo fixes, template fills) whose shingle sets already
    diverge.  The blocking join shuffles normalized bodies, so the
    registered query caps its input like the other exact verify twins.

    ``candidates`` is the open-scale path: a
    (doc_a, doc_b) candidate-pair DataFrame — typically
    ``minhash_dedup_pairs(..., verify_threshold=None)`` — replaces the
    prefix-blocking self-join entirely.  Normalized bodies then move
    only for ids that appear in a candidate pair (two id-keyed joins,
    uniform keys), so the verify cost tracks |candidates|, not
    |corpus|², and no full-body blocking join ever runs."""
    d = df.select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("norm"),
        F.array_join(F.slice(words(text_col), 1, prefix_words), " ").alias("pfx"),
    )
    def _finish(scored: DataFrame) -> DataFrame:
        """(doc_a, doc_b, lev, mx) → thresholded (doc_a, doc_b, lev,
        sim).  The input MUST be a barrier (localCheckpoint): with lev
        as a live expression, Catalyst's filter pushdown re-inlines it
        into both the threshold filter AND the sim projection, so the
        O(len²) levenshtein runs 2-3× per candidate — measured 30.8 s
        vs ~12 s at the 25× replica under bench's force-all-columns
        noop write.  Behind the barrier lev is a materialized column
        read twice, computed once.  (both norms empty ⇒ mx = 0: the
        pair is trivially identical, sim 1.0 — dividing would emit
        NaN)."""
        mxc, levc = F.col("mx"), F.col("lev")
        return (
            scored.filter(levc * 100 <= mxc * max_rel_dist_pct)
            .select(
                "doc_a",
                "doc_b",
                "lev",
                F.round(
                    F.when(mxc == 0, F.lit(1.0)).otherwise(
                        F.lit(1.0) - levc.cast("double") / mxc
                    ),
                    6,
                ).alias("sim"),
            )
        )

    if candidates is not None:
        na = d.select(F.col("id").alias("doc_a"), F.col("norm").alias("_na"))
        nb = d.select(F.col("id").alias("doc_b"), F.col("norm").alias("_nb"))
        lev = F.levenshtein(F.col("_na"), F.col("_nb"))
        mx = F.greatest(F.length("_na"), F.length("_nb"))
        # length pre-gate: lev >= |len_a - len_b| always, so a pair
        # whose length gap already exceeds the budget can never pass —
        # applied BEFORE the lev projection, the O(len^2) levenshtein
        # never evaluates for length-mismatched candidates
        len_gate = (
            F.abs(F.length("_na") - F.length("_nb")) * 100
            <= mx * max_rel_dist_pct
        )
        scored = (
            candidates.select("doc_a", "doc_b")
            .distinct()
            .join(na, "doc_a")
            .join(nb, "doc_b")
            .filter(len_gate)
            .select(
                "doc_a", "doc_b", lev.alias("lev"), mx.alias("mx")
            )
            .localCheckpoint(eager=False)
        )
        return _finish(scored)
    a, b = d.alias("a"), d.alias("b")
    lev = F.levenshtein(F.col("a.norm"), F.col("b.norm"))
    mx = F.greatest(F.length("a.norm"), F.length("b.norm"))
    len_gate = (
        F.abs(F.length("a.norm") - F.length("b.norm")) * 100
        <= mx * max_rel_dist_pct
    )
    scored = (
        a.join(b, (F.col("a.pfx") == F.col("b.pfx")) & (F.col("a.id") < F.col("b.id")))
        .filter(len_gate)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            lev.alias("lev"),
            mx.alias("mx"),
        )
        .localCheckpoint(eager=False)
    )
    return _finish(scored)


def _sized_shingles(
    df: DataFrame, text_col: str, id_col: str, *, n: int
) -> DataFrame:
    """(doc, s, n_sh) — distinct shingles with the per-doc shingle
    count attached, materialized ONCE via ``localCheckpoint(eager=False)``
    (under AQE the call itself runs the upstream shuffle stage).

    The pair builders below consume this relation three ways (join
    left, join right, and both size lookups); without the checkpoint,
    Catalyst re-derives the whole scan→posexplode→lead-window→distinct
    pipeline per consumer (4 scans / 7 exchanges measured on
    q_dedup_containment, ReuseExchange never fired across the alias
    boundary).  The count rides a doc-partitioned window, and the
    sizes travel WITH the shingle rows through the self-join, so the
    two post-agg size joins disappear entirely.  Bounded: these are
    _PAIR_CAP-capped verify twins; at open scale the candidate cut is
    MinHash-LSH upstream."""
    from pyspark.sql import Window

    sh = shingle_rows(df, text_col, id_col, n=n)
    w = Window.partitionBy("doc")
    return sh.select(
        "doc", "s", F.count(F.lit(1)).over(w).alias("n_sh")
    ).localCheckpoint(eager=False)


def _shingle_pair_counts(shn: DataFrame) -> DataFrame:
    """Pair counts ``(doc_a, doc_b, n_inter, n_a, n_b)`` for all pairs
    sharing ≥1 shingle — the all-pairs candidate generator of the exact
    Jaccard and containment verify twins."""
    a = shn.select(
        F.col("doc").alias("doc_a"), "s", F.col("n_sh").alias("n_a")
    )
    b = shn.select(
        F.col("doc").alias("doc_b"), "s", F.col("n_sh").alias("n_b")
    )
    return (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min("n_a").alias("n_a"),  # constant per doc_a
            F.min("n_b").alias("n_b"),
        )
    )


def _jaccard_pairs(counts: DataFrame, t: float) -> DataFrame:
    """Pair counts → ``(doc_a, doc_b, jaccard)`` with jaccard ≥ ``t``.
    Jaccard = |A∩B| / (|A|+|B|-|A∩B|): the union is never built, one
    double division at the end, rounded to 6 places for cross-engine
    determinism."""
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        6,
    )
    return counts.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= t
    )


def _containment_pairs(counts: DataFrame, t: float) -> DataFrame:
    """Pair counts → ``(doc_a, doc_b, cont_ab, cont_ba)`` where either
    direction of C(A→B) = |A∩B| / |A| reaches ``t`` (rounded to 6
    places)."""
    cont = counts.select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_inter") / F.col("n_a"), 6).alias("cont_ab"),
        F.round(F.col("n_inter") / F.col("n_b"), 6).alias("cont_ba"),
    )
    return cont.filter((F.col("cont_ab") >= t) | (F.col("cont_ba") >= t))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all pairs sharing ≥1
    shingle; keeps pairs with similarity ≥ threshold.

    Plan: explode distinct shingles (materialized once, sizes riding
    along — :func:`_sized_shingles`) → self-equi-join on the shingle
    (ordinary shuffled hash join Catalyst handles; hot shingles are the
    skew risk, mitigated by AQE skew-join and by the upstream
    MinHash-LSH candidate cut at real scale — this operator is the
    exact *verify* stage, not the candidate generator) → the shared
    :func:`_jaccard_pairs` scorer.
    """
    counts = _shingle_pair_counts(_sized_shingles(df, text_col, id_col, n=n))
    return _jaccard_pairs(counts, threshold)


def _minhash_rows(num_perm: int, bands: int) -> int:
    """Lanes per LSH band, refusing a band count that does not divide
    ``num_perm``.  Callers run it before touching any DataFrame.

    A silent floor-division would drop signature lanes (shifting the
    S-curve threshold), and bands > num_perm makes rows = 0: every
    band key hashes an EMPTY slice, all documents collide, and the
    "candidate" set is the full O(n²) cross product."""
    if bands < 1 or num_perm % bands != 0:
        raise ValueError(
            f"bands must evenly divide num_perm: num_perm={num_perm}, "
            f"bands={bands}"
        )
    return num_perm // bands


def _minhash_docs(sh: DataFrame, num_perm: int, *, sets: bool) -> DataFrame:
    """Shingle rows ``(doc, s)`` → the one doc-keyed MinHash relation
    ``(doc, sh, sig)``: the shingle set and the ``num_perm``-lane
    signature from ONE ``groupBy("doc")``, behind one checkpoint.
    ``sets=False`` (unverified candidates) drops the ``collect_set``
    and returns ``(doc, sig)``.

    Permutation i is murmur3 with the lane index mixed into an 8-byte
    xxhash64 digest of the shingle (``hash(xxhash64(s), i)``); the min
    over a doc's shingles estimates h_min of permutation i.  One
    O(len) string hash per shingle, then ``num_perm`` murmur3 mixes —
    vs hashing the string once PER LANE (num_perm × O(len), the
    dominant signature cost on long shingles).  Cross-lane collisions
    require an xxhash64 collision (~2^-64 per shingle pair): the
    standard one-hash k-derive MinHash construction.  Shaped as
    explode → hash-agg (NOT an array ``transform`` lambda): the
    per-lane mins are plain aggregates, whereas higher-order-function
    lambdas are interpreted per element — measured ~20× slower at
    sf0.1.

    The lanes are ONE ``F.expr`` (``array(min(hash(h, 0)), …)``)
    generated from integers only: built as ``num_perm`` separate
    ``Column`` objects they cost one py4j round trip each (~8 ms a
    lane, ~3,000 round trips per call), while the SQL text is parsed
    JVM-side in one call.  The expression is the same murmur3 over the
    same digest with the same ``int`` lane literals, so signatures are
    bit-identical to the per-Column spelling.

    The relation is checkpointed: it feeds both sides of the band join
    and both sides of the verify (:func:`_set_counts`), and alias
    boundaries defeat ReuseExchange, so without it the aggregate runs
    once per consumer.  It holds one row per document."""
    lanes = F.expr(
        "array("
        + ", ".join(f"min(hash(h, {i}))" for i in range(num_perm))
        + ")"
    )
    h = F.xxhash64("s").alias("h")
    if sets:
        pre, aggs = ("doc", "s", h), (F.collect_set("s").alias("sh"),)
    else:
        pre, aggs = ("doc", h), ()
    return (
        sh.select(*pre)
        .groupBy("doc")
        .agg(*aggs, lanes.alias("sig"))
        .localCheckpoint(eager=False)
    )


def _band_rows(docs: DataFrame, bands: int, rows: int) -> DataFrame:
    """A :func:`_minhash_docs` relation → banded keys
    ``(doc, band, key)``, one row per (doc, band): ``bands`` keys of
    ``rows`` lanes each, the key murmur3 of the band's lane slice.  Two
    docs land in the same (band, key) bucket iff that band's lanes all
    match.  The keys are one ``F.expr`` over integer literals (see
    :func:`_minhash_docs`), exploded with ``inline``."""
    keys = ", ".join(
        f"named_struct('band', {b}, "
        f"'key', hash(slice(sig, {b * rows + 1}, {rows})))"
        for b in range(bands)
    )
    return docs.select("doc", F.inline(F.expr(f"array({keys})")))


def _band_candidates(a: DataFrame, b: DataFrame) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs sharing a (band, key) bucket
    between two :func:`_band_rows` relations.  A self-join caller adds
    ``doc_a < doc_b``."""
    a = a.select(F.col("doc").alias("doc_a"), "band", "key")
    b = b.select(F.col("doc").alias("doc_b"), "band", "key")
    return a.join(b, ["band", "key"]).select("doc_a", "doc_b").distinct()


def _shingle_sets(sh: DataFrame) -> DataFrame:
    """Per-doc shingle sets ``(doc, sh)``, checkpointed: the verify
    joins them in twice (doc_a and doc_b), and across that alias
    boundary ReuseExchange does not fire, so without the checkpoint
    the ``collect_set`` aggregate runs once per side."""
    return (
        sh.groupBy("doc")
        .agg(F.collect_set("s").alias("sh"))
        .localCheckpoint(eager=False)
    )


def _set_counts(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """Candidate pairs ``(doc_a, doc_b)`` → pair counts
    ``(doc_a, doc_b, n_inter, n_a, n_b)`` from doc-keyed ``(doc, sh)``
    relations (:func:`_minhash_docs`, :func:`_shingle_sets`).  Only
    candidates are verified (an all-pairs join here
    would defeat the candidate cut), and the O(|set|)
    ``array_intersect`` runs ONCE per candidate: with the score as a
    live expression, filter pushdown re-inlines it into both the
    threshold filter and the output projection (the editdist
    double-levenshtein class), so the counts materialize behind a
    checkpoint and the scorer reads columns."""
    sa = sets_a.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets_b.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .localCheckpoint(eager=False)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs, optionally verified
    with exact shingle Jaccard.

    bands=16 × rows=4 over 64 perms ⇒ S-curve threshold ≈ (1/16)^(1/4)
    ≈ 0.5 Jaccard.  Pipeline: signature (narrow) → explode band keys
    (docs×16 rows) → self-join on (band, key) → distinct pairs →
    [verify].  At 100 TB the shuffle carries (band,key,id) triples only;
    document text never moves.  Degenerate buckets (identical boiler-
    plate) are the skew risk — AQE skew-join splits them, and the
    verify join is on doc ids, which are uniform.
    """
    rows = _minhash_rows(num_perm, bands)
    # one doc-keyed stage feeds the bands AND the verify sets, so the
    # shingle rows have a single consumer and need no checkpoint
    docs = _minhash_docs(
        shingle_rows(df, text_col, id_col, n=shingle_n),
        num_perm,
        sets=verify_threshold is not None,
    )
    banded = _band_rows(docs, bands, rows)
    cand = _band_candidates(banded, banded).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    if verify_threshold is None:
        return cand
    return _jaccard_pairs(_set_counts(cand, docs, docs), verify_threshold)


# Edge count up to which dedup_clusters solves components on the
# driver.  Measured with tools/cluster_cap_probe.py (local[4] on 4
# vCPU, clique-shaped graphs, one call; wall s of the driver finish vs
# the distributed loop, medians): 100k edges 4.2 vs 7.6, 1M 12.9 vs
# 21.7, 2M 22.1-24.8 vs 29.2-32.4 (two runs each); the driver
# finish's JVM peak RSS is below the loop's at every size (2M:
# 4.2-6.0 vs 6.7-8.7 GB; its Python peak 0.5 GB).  There is no
# crossover up to 2M edges; larger graphs were not measured, so the
# cap is the largest size measured.
_DRIVER_EDGES = 2_000_000


def _min_labels(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Component labels over ``n`` dense node indices joined by the
    edge index arrays ``a``/``b``: ``label[i]`` is the smallest index
    in i's component.  Min-hooking plus pointer jumping in numpy:
    each round hooks every edge's larger root under the smaller one
    (``np.minimum.at``), then jumps pointers until every node points at
    a root.  Labels only decrease and stay inside their component, so
    when every edge joins equal labels each label is its component's
    minimum."""
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        if np.array_equal(la, lb):
            return lab
        lo = np.minimum(la, lb)
        np.minimum.at(lab, la, lo)
        np.minimum.at(lab, lb, lo)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _driver_clusters(
    edges: pa.Table, nodes: DataFrame, id_col: str
) -> DataFrame:
    """:func:`dedup_clusters`' driver finish for an edge list already
    on the driver: a ``pyarrow.Table`` of (src, dst) with both
    endpoints non-NULL node ids.  Dense indices come from the sorted
    unique endpoints — Arrow sorts strings by their UTF-8 bytes, as
    Spark's ``min`` does — so the smallest index is the smallest id."""
    src, dst = (edges.column(i).combine_chunks() for i in (0, 1))
    ids = pc.unique(pa.concat_arrays([src, dst]))
    ids = ids.take(pc.sort_indices(ids))
    lab = _min_labels(
        len(ids),
        pc.index_in(src, value_set=ids).to_numpy(),
        pc.index_in(dst, value_set=ids).to_numpy(),
    )
    moved = np.flatnonzero(lab != np.arange(len(ids)))
    if len(moved) == 0:
        return nodes.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    labels = nodes.sparkSession.createDataFrame(
        pa.table({"__node": ids.take(moved), "__label": ids.take(lab[moved])})
    )
    id_type = nodes.schema[id_col].dataType
    return nodes.join(
        F.broadcast(labels), F.col(id_col) == F.col("__node"), "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("__label").cast(id_type), F.col(id_col)).alias(
            "cluster_id"
        ),
    )


def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs — the final stage of a
    dedup pipeline: (doc_a, doc_b) edges → one ``cluster_id`` per
    document (the minimum doc id of its component; singletons keep
    their own id, so the output covers EVERY input document and
    ``cluster_id == doc_id`` selects the survivors of the corpus).

    Two paths, one contract.  The edges are pulled once with
    ``limit(_DRIVER_EDGES + 1).toArrow()``:

    * at most ``_DRIVER_EDGES`` edges (2M, ~32 MB of Arrow; the
      driver finish was measured faster and smaller than the loop up
      to that size, see the constant — near-dup graphs are tiny next
      to their corpus): the driver finish.  The
      components are solved in numpy (:func:`_min_labels`), and the
      labels of non-root nodes return as an Arrow LocalRelation that
      is broadcast-left-joined onto ``nodes`` as
      ``coalesce(label, node)``.  The pull keeps only edges whose
      endpoints are both node ids (two semi-joins onto ``nodes``; one
      extra job when ``nodes`` broadcasts), and no job runs per
      round, however deep the graph.
    * above the cap: distributed min-label propagation, below, over
      the same node-to-node edges.  Such a graph also pays for the
      discarded pull (measured at 1M edges with the cap just below:
      25.6 s against 21.7 s for the loop alone).

    Both paths: the label is the component's minimum id (strings in
    UTF-8 binary order); an edge with a NULL endpoint is ignored; a
    NULL node id gets a NULL ``cluster_id``; an endpoint absent from
    ``nodes`` is inert — neither output nor a bridge between
    components.

    Distributed path: iterative min-label propagation.  Each round
    every node takes the min of its own label and its neighbours'
    labels; a round is one shuffled join + one hash-agg, and
    convergence needs O(component diameter) rounds — near-dup graphs
    are dense clique-ish blobs with tiny diameters, so 3–5 rounds in
    practice (``max_iter`` is a backstop; the large-star/small-star
    alternation of Kiveris et al., "Connected Components in MapReduce
    and Beyond" (SoCC 2014), would cut worst-case rounds to O(log n)
    if ever needed).  ``localCheckpoint`` after every round truncates
    the lineage so plan size stays constant across iterations (on a
    real cluster prefer ``checkpoint`` to a reliable dir for fault
    tolerance).  Convergence is detected from the monotonically
    decreasing sum of labels — one lightweight agg per round instead
    of a change-count join against the previous labels — taken right
    after a ``localCheckpoint(eager=False)``.  Under AQE that call is
    not lazy: it runs the round's upstream shuffle stage itself (one
    job), and the convergence agg then materializes the checkpoint
    blocks as it scans.
    """
    from tmp_parquet_merge_spark.operators._iter_cache import keyed_edge_cache

    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # the loop never labels a NULL or absent endpoint, so an edge
    # touching one carries nothing: keep only node-to-node edges
    ids = nodes.select(id_col)
    live = (
        e.join(ids.toDF("src"), "src", "left_semi")
        .join(ids.toDF("dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    pulled = live.limit(_DRIVER_EDGES + 1).toArrow()
    if pulled.num_rows <= _DRIVER_EDGES:
        return _driver_clusters(pulled, nodes, id_col)
    # the loop-invariant symmetrized edge list is cached pre-
    # partitioned + sorted on the join key (same fix as
    # pagerank — see operators/_iter_cache.py): rounds then only
    # exchange the (small) label state, never the edges.
    sym = live.union(
        live.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    lab = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    # numeric ids get the cheap convergence probe: labels only ever
    # decrease, so an unchanged SUM ⇔ a fixpoint (one scalar agg per
    # check).  Non-numeric ids (string doc ids) must NOT go through
    # cast(decimal): under default (non-ANSI) conf the cast yields
    # NULL, the sum is NULL every round, and NULL == NULL would
    # declare convergence after ONE round with unpropagated labels.
    # They use an exact changed-row probe against the previous
    # checkpointed labels instead (one extra node-keyed join per
    # check round — still scalar-only driver traffic).
    id_type = dict(nodes.dtypes).get(id_col, "")
    numeric_ids = id_type in (
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) or id_type.startswith("decimal")
    prev_sum = None
    prev_lab = None
    converged = False
    with keyed_edge_cache(sym, "src") as edges:
        for it in range(1, max_iter + 1):
            nbr_min = (
                edges.join(lab, edges.src == lab.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("nbr_min"))
            )
            lab = lab.join(nbr_min, "node", "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias(
                    "label"
                ),
            )
            # Non-eager checkpoint + immediate scalar probe.  Under AQE
            # the call still runs the round's upstream shuffle stage
            # (one job); the probe's action then writes the checkpoint
            # blocks as it scans, so no separate eager-checkpoint job
            # runs.  Labels are bit-identical — same plan, same blocks,
            # only the materializing action differs.  (The non-numeric
            # first round runs no probe; its checkpoint blocks then
            # materialize inside the next round's first job, still
            # exactly once.)
            lab = lab.localCheckpoint(eager=False)
            if numeric_ids:
                cur_sum = lab.agg(
                    F.sum(F.col("label").cast("decimal(38,0)"))
                ).first()[0]
                if cur_sum == prev_sum:
                    converged = True
                    break
                prev_sum = cur_sum
            else:
                if prev_lab is not None:
                    changed = (
                        lab.join(prev_lab, "node")
                        .filter(F.col("label") != F.col("prev_label"))
                        .limit(1)
                        .count()
                    )
                    if changed == 0:
                        converged = True
                        break
                prev_lab = lab.select(
                    "node", F.col("label").alias("prev_label")
                )
    # numeric-id loop exits always ran the scalar probe on the final
    # round's checkpoint, so lab is materialized and no longer
    # needs the edge cache the with-block released; the non-numeric
    # first-check corner (prev_lab None at max_iter) leaves lab's
    # checkpoint blocks unwritten —
    # it then recomputes through the (unpersisted but still valid)
    # edge lineage, identical labels either way
    if not converged:
        import warnings

        warnings.warn(
            f"dedup_clusters hit max_iter={max_iter} before the label "
            "fixpoint: a component with diameter > max_iter would carry "
            "unconverged cluster_ids. Re-run with a larger max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return lab.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def simhash(df: DataFrame, text_col: str, id_col: str, *, bits: int = 64) -> DataFrame:
    """64-bit SimHash signature per document (Charikar 2002).

    Each token votes ±1 on every bit of its 64-bit hash; bits with a
    positive total are set.  Implementation is one explode + one
    groupBy with ``bits`` conditional sums — all JVM built-ins, a
    single shuffle keyed by doc id.  Near-dup candidates are then
    found by Hamming distance (multi-index banding in
    :func:`simhash_dedup_pairs`).

    The token hash is the first 64 bits of md5, read as four 16-bit
    pieces (``conv(substring(md5(w), 1+4i, 4), 16, 10)``) — NOT
    xxhash64: md5 is the one 64-bit-capable hash DuckDB can spell
    identically (``('0x' || substring(md5(w), …))::BIGINT``), which is
    what lets q_dedup_simhash carry an exact cross-engine oracle (bit
    b of the hash ≙ bit b%16 of piece b//16, pieces
    most-significant-first)."""
    # parallelism floor for deficient scans (no-op at scale), keyed by
    # the doc id: tokenize + 4 md5-piece convs + the 64 partial vote
    # sums then run cluster-parallel, and the signature aggregate's
    # (doc)-clustering reuses this exchange outright
    df = spread_scan(df, id_col)
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(words(text_col)).alias("w")
    ).selectExpr(
        "doc",
        *[
            f"CAST(conv(substring(md5(w), {1 + 4 * i}, 4), 16, 10) AS BIGINT)"
            f" AS p{i}"
            for i in range(4)
        ],
    )
    # the vote lanes and the fold are one SQL expression each, built
    # from integers only (one py4j round trip instead of one per
    # lane; see _minhash_docs)
    votes = tok.groupBy("doc").agg(
        F.expr(
            "array("
            + ", ".join(
                f"sum(CASE WHEN (shiftright(p{3 - b // 16}, {b % 16}) & 1)"
                " = 1 THEN 1 ELSE -1 END)"
                for b in range(bits)
            )
            + ")"
        ).alias("v")
    )
    # bit b set iff its vote total is positive; shiftleft(1L, 63) is
    # the sign bit, so the OR of the set bits is the signed signature
    sig = F.expr(
        " | ".join(
            f"IF(v[{b}] > 0, shiftleft(1L, {b}), 0L)" for b in range(bits)
        )
    )
    return votes.select("doc", sig.alias("simhash"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs, EXACT for Hamming ≤ ``max_hamming``:
    multi-index hashing over the 64-bit signature (Norouzi, Punjani &
    Fleet, CVPR 2012 — the q_media_neardup discipline): ``bands``
    disjoint (64/bands)-bit bands, each probing its
    Hamming-⌊max_hamming/bands⌋ ball of XOR masks, then exact
    bit_count verify.  Generalized pigeonhole: a total distance ≤
    max_hamming leaves ≤ ⌊max_hamming/bands⌋ errors in some band, so
    the band-ball join is an exact candidate generator for ANY band
    count dividing 64 — the earlier f=0 spelling was only exact to
    Hamming 3 and silently lossy above it ("mostly caught"), which
    kept the query rows-only; exactness is what lets it carry a
    DuckDB oracle.

    Band-geometry cost law (A/B'd at the 25× replica
    — numbers in SCALE.md): probe rows per doc are bands·|ball| (548
    at 4×16/H2, 72 at 8×8/H1) but candidate pairs per doc scale as
    Σ probes·n/2^width — the 8-bit key space is 256, so 8×8/H1
    produces ~0.28·n candidates per doc (quadratic blowup) versus
    ~0.008·n at 4×16/H2.  The default stays 4×16: probe rows are
    cheap broadcast-hash lookups, candidate rows each cost a verify
    join; fewer-probes-more-candidates loses once n clears a few
    thousand.

    The band values ride as an array column into the shared
    multi-index core (``multimodal._mih_ball`` / ``_mih_pairs``, also
    behind multimodal.media_neardup_pairs), whose probe-side explode
    never shuffles: the index relation broadcasts under a size gate,
    above which the join falls back to shuffle where MIH still wins
    once n² dominates."""
    from tmp_parquet_merge_spark.operators.multimodal import (
        _mih_ball,
        _mih_pairs,
    )

    # bands=1 (width 64) is rejected even though it divides 64: its
    # key mask 2^64-1 and any ball mask with bit 63 set exceed Spark's
    # signed LongType literal range, so the plan build would fail with
    # an opaque overflow instead of this diagnostic.
    if bands < 2 or 64 % bands != 0:
        raise ValueError(
            f"bands must be a divisor of 64 in [2, 64] (band width "
            f"<= 32 so key masks fit a signed 64-bit literal): got {bands}"
        )
    width = 64 // bands
    ball = _mih_ball([width] * bands, max_hamming)
    key_mask = (1 << width) - 1
    sigs = simhash(df, text_col, id_col).select(
        "doc",
        "simhash",
        F.array(
            *[
                F.shiftright("simhash", i * width).bitwiseAND(F.lit(key_mask))
                for i in range(bands)
            ]
        ).alias("bands"),
    )
    return _mih_pairs(
        sigs, "doc", ball, ["simhash"], max_hamming, ("doc_a", "doc_b")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| for pairs
    sharing ≥1 shingle; keeps pairs where either direction ≥ threshold.

    Containment is the sub-document detector Jaccard misses: a
    paragraph pasted into a much larger page scores near-zero Jaccard
    (union is huge) but containment ≈ 1 from the small side — the
    C4/RefinedWeb-style "document inclusion" dedup signal.  Same plan
    economics as :func:`ngram_jaccard_pairs` (shared
    :func:`_shingle_pair_counts` candidates, :func:`_containment_pairs`
    scorer; the exact verify stage, candidate-cut upstream at real
    scale).
    """
    counts = _shingle_pair_counts(_sized_shingles(df, text_col, id_col, n=n))
    return _containment_pairs(counts, threshold)


def _doc_segments(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, i, segment): every non-overlapping full n-word window of
    the normalized text — the stride-n relation both halves of the
    repeated-segment pair derive from.  One projection: split +
    sequence-explode + slice, all codegen; no window function, no
    per-doc shuffle."""
    d = df.select(F.col(id_col), words(text_col).alias("ws"))
    n_full = (F.size("ws") / F.lit(n)).cast("int")
    return (
        d.filter(n_full > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), n_full - 1)).alias("i"),
            "ws",
        )
        .select(
            id_col,
            "i",
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("i") * n + 1, n)
            ).alias("segment"),
        )
    )


def segment_blacklist(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 10
) -> DataFrame:
    """Repeated-segment (boilerplate) detection — the C4/RefinedWeb
    "remove lines repeated across documents" step at word-window
    granularity: every non-overlapping full n-word window with the
    number of DISTINCT documents containing it; windows spanning ≥ 2
    docs are the boilerplate blacklist (headers, footers, license
    blurbs — sub-document duplication doc-level dedup cannot see).

    Segments are bounded (≤ n words) so shuffle rows are small and
    the group count is corpus-vocabulary-bounded; at open scale,
    group by xxhash64(segment) digests and keep min(segment) as the
    representative to shrink shuffle bytes further (the exact-dedup
    digest discipline)."""
    return (
        _doc_segments(df, text_col, id_col, n)
        .select(id_col, "segment")
        .distinct()
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 2)
    )


def segments_clean(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 10
) -> DataFrame:
    """The action half of :func:`segment_blacklist`: REWRITE every
    document with its cross-document repeated n-word windows removed,
    keeping window order and the ragged tail, plus the per-doc count
    of dropped windows.  Docs under n words pass through as their
    normalized text; an all-boilerplate doc comes back as the empty
    string, never silently disappears — exactly one row per input
    document.

    Plan shape: the (doc, i, segment) relation derives once
    (localCheckpoint) and feeds the blacklist agg, the keep anti-join,
    and the dropped-count semi-join; reassembly is one hash-agg per
    doc over array_sort(collect_list(struct(i, segment))) — the
    order-safe spelling (collect_list alone has no ordering
    contract).  Shuffles carry bounded ≤n-word segments keyed by
    segment or id; nothing is quadratic and no full text rides more
    than one shuffle."""
    d = df.select(F.col(id_col), words(text_col).alias("ws"))
    n_full = (F.size("ws") / F.lit(n)).cast("int")
    seg = _doc_segments(df, text_col, id_col, n).localCheckpoint(
        eager=False
    )
    bl = (
        seg.groupBy("segment")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= 2)
        .select("segment")
    )
    tails = (
        d.select(id_col, n_full.alias("i"), "ws")
        .filter(F.size("ws") > F.col("i") * n)
        .select(
            id_col,
            "i",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("ws"),
                    F.col("i") * n + 1,
                    F.size("ws") - F.col("i") * n,
                ),
            ).alias("segment"),
        )
    )
    kept = (
        seg.join(bl, "segment", "left_anti")
        .select(id_col, "i", "segment")
        .unionByName(tails)
    )
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "segment"))),
                lambda s: s["segment"],
            ),
            " ",
        ).alias("clean_text")
    )
    dropped = (
        seg.join(bl, "segment", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        d.select(id_col)
        .join(clean, id_col, "left")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


def novelty_neardup(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-DUP novelty gate for an incremental crawl: which documents
    of the new batch have no near-duplicate (shingle Jaccard ≥
    ``threshold``) in the existing corpus — the LSH-fed upgrade of the
    exact-digest novelty anti-join (q_novelty), catching re-crawls
    with trivial edits (dates, counters, template fills) that an exact
    digest passes straight through.

    Pipeline: MinHash signatures on BOTH sides (one shingle pass per
    side), banded keys, a new×old band-key equi-join (cross-side — no
    self-join, so the candidate relation is |new|-biased and the old
    side can be a pre-built signature table at 100 TB), exact Jaccard
    verify on candidate ids only, then an anti-join of the new batch
    against the verified-duplicate ids.  Shuffles carry (band, key,
    id) triples and shingle digests; bodies never move.  Returns the
    NOVEL new-batch rows (id only — callers re-join attributes)."""
    rows = _minhash_rows(num_perm, bands)
    docs_n, docs_o = (
        _minhash_docs(
            shingle_rows(d, text_col, id_col, n=shingle_n), num_perm, sets=True
        )
        for d in (new_df, old_df)
    )
    cand = _band_candidates(
        _band_rows(docs_n, bands, rows), _band_rows(docs_o, bands, rows)
    )
    counts = _set_counts(cand, docs_n, docs_o)
    dup_new = (
        _jaccard_pairs(counts, threshold)
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    return new_df.select(F.col(id_col)).join(dup_new, id_col, "left_anti")


def bloom_novelty(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    m: int = 1 << 14,
) -> DataFrame:
    """Bloom-filter novelty gate with its false-positive rate measured
    in-query: the existing corpus's content digests populate a Bloom
    filter (``k`` md5-derived bit positions over ``m`` bits); a
    new-batch document is ``maybe_seen`` iff ALL ``k`` of its positions
    are set (Bloom 1970 — no false negatives, one-sided false
    positives).  Output per new-batch row: (id, maybe_seen,
    seen_exact, false_positive) where seen_exact is the exact-digest
    truth (q_novelty's anti-join), so the emitted rows certify the
    filter's FPR on this corpus rather than assuming the (1-e^{-kn/m})^k
    formula.

    Scale story: the filter is the ≤ m-row set-bit relation — FIXED
    state regardless of corpus size (the reason object stores front
    their digest indexes with exactly this structure) — built with one
    distinct over k·|old| ints and BROADCAST to the new batch; the
    new side never shuffles.  Like the CMS twin
    (text.cms_heavy_hitters), the md5 bit positions are deterministic,
    so the whole gate — filter build included — carries an exact
    cross-engine oracle; the seen_exact column is the verify stage and
    drops at open scale (or stays, as the shadow-audit rate)."""
    norm = normalize_text(text_col)

    def positions(side: DataFrame):
        d = side.select(F.col(id_col), F.sha2(norm, 256).alias("dig"))
        return d.select(
            F.col(id_col),
            "dig",
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}:"), F.col("dig"))),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % m
                ).alias(f"p{i}")
                for i in range(k)
            ],
        )

    old_pos = positions(old_df)
    bits = (
        old_pos.select(
            F.explode(F.array(*[F.col(f"p{i}") for i in range(k)])).alias(
                "bit"
            )
        )
        .distinct()
    )
    new_pos = positions(new_df).localCheckpoint(eager=False)
    probe = new_pos.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"p{i}") for i in range(k)])).alias("bit"),
    )
    hits = (
        probe.join(
            F.broadcast(bits.select(F.col("bit"), F.lit(1).alias("__hit"))),
            "bit",
            "left",
        )
        .groupBy(id_col)
        .agg(F.min(F.coalesce("__hit", F.lit(0))).alias("all_set"))
    )
    old_digs = old_df.select(F.sha2(norm, 256).alias("dig")).distinct()
    exact = new_pos.join(
        F.broadcast(old_digs.select("dig", F.lit(1).alias("__seen"))),
        "dig",
        "left",
    ).select(
        F.col(id_col), F.coalesce("__seen", F.lit(0)).alias("seen_exact")
    )
    return (
        hits.join(exact, id_col)
        .select(
            F.col(id_col),
            F.col("all_set").cast("int").alias("maybe_seen"),
            F.col("seen_exact").cast("int").alias("seen_exact"),
            (
                (F.col("all_set") == 1) & (F.col("seen_exact") == 0)
            ).cast("int").alias("false_positive"),
        )
    )


def containment_pairs_rare_shingle(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 16,
    min_shared: int = 3,
) -> DataFrame:
    """The open-scale spelling of :func:`ngram_containment_pairs`:
    candidates from a RARE-shingle inverted index instead of the
    all-pairs shared-shingle join.  MinHash-LSH cannot feed this
    family — Jaccard banding is exactly what high-containment /
    low-Jaccard pairs evade (a paragraph inside a much larger page) —
    so the candidate generator is the df-bounded index: pairs sharing
    ≥ ``min_shared`` shingles held by 2..max_df documents.  Shingles
    in > max_df docs are boilerplate (and the C(max_df, 2) fan-out
    cap — the winnow_overlap stop-fingerprint discipline); shingles
    in one doc pair with nobody; and the min_shared cut drops the
    coincidental single-shared-gram pairs that otherwise dominate the
    candidate relation (measured at the sf0.1 corpus: 1.04M candidate
    pairs at min_shared=1 vs 8.2k at 3, against a 6-shared-shingle
    minimum over the actual qualifying pairs — a 2× margin; the
    novelty-LSH margin-pin pattern, test-asserted per tier).

    Candidate recall: the cut relaxes to
    ``least(min_shared, rare_na, rare_nb)`` where rare_n is the doc's
    RARE (2 ≤ df ≤ max_df) shingle count — NOT its total shingle
    count (otherwise a short doc whose shingles include
    even one boilerplate df > max_df shingle would keep a floor it
    can never meet, because boilerplate shingles are absent from the
    index).  A doc that shares ALL of its rare shingles is therefore
    always a candidate; a pair is missed only when the contained
    text's shingles are ENTIRELY boilerplate (rare_n = 0 → no index
    rows at all), which the segment/substring blacklists
    (q_dedup_segments / q_dedup_substring) remove upstream; a
    contained span of ≥ min_shared+n−1 non-boilerplate words always
    clears the unrelaxed floor.  On the bundled corpora the miss
    count is ZERO at every tier, so the composed query equals the
    exact twin row for row (test-pinned); the hypothesis property
    suite (tests/test_property_containment.py) drives adversarial
    boilerplate-heavy corpora against a pure-Python exact reference
    and asserts the boilerplate-only class is the ONLY miss class.

    Verify stage: exact containment on candidate ids only — the two
    shingle SETS move for candidate docs alone (the editdist-LSH
    candidates pattern), never a corpus-wide pair join; the sets, the
    pair counts and the scorer are the MinHash verify's
    (:func:`_shingle_sets`, :func:`_set_counts`,
    :func:`_containment_pairs`)."""
    from pyspark.sql import Window

    sh = shingle_rows(df, text_col, id_col, n=n).localCheckpoint(
        eager=False
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare0 = sh.join(
        dfreq.filter(
            (F.col("df") >= 2) & (F.col("df") <= F.lit(max_df))
        ).select("s"),
        "s",
    )
    # the per-doc RARE-shingle count rides WITH the index rows (the
    # _sized_shingles discipline) so the candidate cut below can relax
    # for short documents without any post-aggregation join.  It must
    # be the rare count, not the doc's total shingle count: shingles
    # with df > max_df never enter the index, so a total-count floor
    # would structurally exclude a short doc carrying even one
    # boilerplate shingle despite full containment.
    rare = rare0.select(
        "doc",
        "s",
        F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("rare_n"),
    )
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "s")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("__shared"),
            F.min("a.rare_n").alias("__na"),
            F.min("b.rare_n").alias("__nb"),
        )
        .filter(
            F.col("__shared")
            >= F.least(F.lit(min_shared), F.col("__na"), F.col("__nb"))
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    # shingle SETS materialize for CANDIDATE docs only (semi-join
    # before the collect_set): without this the set-build aggregates
    # the whole corpus's shingles — measured 9.3 s vs 3.4 s at sf0.1
    # (5k docs, ~500 candidate docs) and the gap widens with corpus
    # size since candidates are selectivity-bounded
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    sets_ = _shingle_sets(sh.join(cand_ids, "doc", "left_semi"))
    return _containment_pairs(_set_counts(cand, sets_, sets_), threshold)
