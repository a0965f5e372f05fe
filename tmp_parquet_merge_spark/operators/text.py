"""Text-analysis operators for LLM training-data pipelines.

North-star mandated (BASELINE.json): language ID, quality scoring,
token counting, document fingerprinting.  Everything is built-in
pyspark.sql.functions — string/regex/array expressions inside
whole-stage codegen, zero Python in the row path — so these run at
scan speed over a 100 TB documents table.

Cross-engine determinism: every double output is a single division /
rounding at the end (``F.round(x, 6)``), matching the DuckDB oracle
spelling exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.operators.dedup import (
    normalize_text,
    spread_scan,
    words,
)

# Per-task byte budget for CPU-heavy per-character work (winnowing's
# md5-per-gram-position): ~8 MB of text ≈ 8M positions ≈ 1-2 s of
# hashing per task.  Used by :func:`_hash_work_partitions`.
_HASH_BYTES_PER_TASK = 8 << 20


def _hash_work_partitions(
    df: DataFrame, bytes_per_task: int = _HASH_BYTES_PER_TASK
) -> int:
    """Explicit partition count for an exchange feeding CPU-bound
    per-row work: optimizer-estimated input bytes / ``bytes_per_task``,
    floored at the cluster's default parallelism.  Explicit because
    AQE's coalescing is byte-based and blind to downstream per-byte
    CPU cost (guide §2: make partitioning scale-adaptive — derive
    from input size, not a constant tuned for one deployment)."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable: parallelism floor only
        est = 0
    # Catalyst's unknown-stats sentinel is defaultSizeInBytes
    # (Long.MaxValue unless overridden) — and plans DERIVED from an
    # unknown relation multiply it, so any estimate at or above the
    # conf value is sentinel-tainted, not a real size.  Compare against
    # the actual conf: a fixed 1 PiB cutoff would mistake a legitimate
    # explode-heavy estimate at open scale for the sentinel and
    # silently under-partition.  The
    # 2^20-partition clamp below still bounds genuine huge estimates.
    try:
        from tmp_parquet_merge_spark.operators.dedup import _parse_bytes

        # the conf value is byte-suffixed (e.g. "9223372036854775807b")
        sentinel = _parse_bytes(
            df.sparkSession.conf.get("spark.sql.defaultSizeInBytes")
        )
    except Exception:
        sentinel = (1 << 63) - 1
    if est >= sentinel:
        est = 0
    return max(int(sc.defaultParallelism), min(est // bytes_per_task, 1 << 20))

# Tiny embedded stopword lists — a deterministic n-gram/stopword
# heuristic, not a learned model (those would be an external artifact;
# the heuristic is the classic langid baseline).
STOPWORDS = {
    "en": ["the", "a", "of", "to", "in", "and", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "auf"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "dans", "pour"],
}

# BPE-ish pre-tokenizer: word pieces, digit runs, single punctuation —
# the GPT-2 pre-tokenizer family's shape, as a pure regex.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of word tokens that are stopwords of ``lang``.

    Spelled as TWO regexp_count passes over the normalized string
    (whole-stage codegen, JVM regex) instead of the obvious
    ``filter(words, isin)`` array lambda: higher-order lambdas are
    interpreted PER ELEMENT and get re-inlined into every consumer by
    CollapseProject, which made language-ID ~4x slower for identical
    counts.  The padded " word(?= )" alternation counts exactly the
    tokens the lambda counted (duplicates included, same as the DuckDB
    oracle's list_filter); the lookahead keeps consecutive stopwords
    from swallowing each other's delimiter.  Each word is
    regex-escaped: today's en/de/fr lists are plain alphabetic so the
    escaped pattern is byte-identical, but a future list entry with a
    metacharacter ("c.", "+") must stay a token-equality match, not
    become a regex.

    The expression normalizes ``text`` itself; a consumer that needs
    several ratios of one document stages the normalized text once
    and calls :func:`_ratio_of_normalized` (see :func:`lang_pred_exprs`)."""
    return _ratio_of_normalized(normalize_text(text), lang)


def _ratio_of_normalized(norm: Column, lang: str) -> Column:
    """:func:`stopword_ratio` of text that is already normalized."""
    import re as _re

    pat = " (" + "|".join(_re.escape(w) for w in STOPWORDS[lang]) + ")(?= )"
    hits = F.regexp_count(
        F.concat(F.lit(" "), norm, F.lit(" ")), F.lit(pat)
    )
    n_words = F.regexp_count(norm, F.lit(" ")) + F.lit(1)
    return hits / F.greatest(n_words, F.lit(1))


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document surface statistics: chars, words, distinct words,
    mean word length, punctuation density."""
    norm = normalize_text(text_col)
    ws = words(text_col)
    n_words = F.size(ws)
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return df.select(
        F.col(id_col),
        F.length(norm).alias("n_chars"),
        n_words.alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct_words"),
        # sum(len(word)) == length(norm) - (n_words - 1): norm IS the
        # words joined by single spaces (and split("", " ") == [""] so
        # the identity holds for empty docs too) — closed-form beats
        # the interpreted F.aggregate lambda the module docstring
        # warns about (20-50x per element on the scan hot path)
        F.round(
            (F.length(norm) - (n_words - F.lit(1)))
            / F.greatest(n_words, F.lit(1)).cast("double"),
            6,
        ).alias("avg_word_len"),
        # regexp_count stays in whole-stage codegen and never
        # materializes the per-char match array (regexp_extract_all
        # allocated one just to take its size); F.col also removes the
        # f-string SQL that broke on non-identifier column names
        F.round(
            F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
            / F.greatest(F.length(norm), F.lit(1)).cast("double"),
            6,
        ).alias("punct_ratio"),
    )


# Staged columns of the language gate; lang_pred_exprs' callers
# select them away again.
_LANG_NORM = "__lang_norm"
_LANG_RATIO = {lang: f"__lang_r_{lang}" for lang in STOPWORDS}


def lang_pred_exprs(
    df: DataFrame, text_col: Column | str
) -> tuple[DataFrame, Column, Column]:
    """The language gate: ``(staged, pred_lang, best_ratio)``, where
    ``pred_lang`` is the argmax of the per-language stopword hit
    ratios ('und' below the 2% cut) and both columns are expressions
    over ``staged``, which is ``df`` plus internal columns the caller's
    projection drops.  The single source of the language-gate
    semantics, shared by language_id and every fused pipeline that
    embeds the gate.

    Each row's text is normalized once and each ratio computed once:
    ``staged`` holds the normalized text, then the three ratios, as
    columns of their own projections.  Catalyst's CollapseProject does
    not inline a non-cheap expression (a regex) that its consumer
    references more than once, so the argmax's comparisons read the
    staged values.  Spelled as one expression instead, the when-chain
    copied every ratio, and with it ``normalize_text``, into each
    later comparison: ``q_lang_id``'s plan spelled ``regexp_replace``
    54 times."""
    staged = (
        df.withColumn(_LANG_NORM, normalize_text(text_col))
        .withColumns(
            {c: _ratio_of_normalized(F.col(_LANG_NORM), lang)
             for lang, c in _LANG_RATIO.items()}
        )
        .drop(_LANG_NORM)
    )
    best_lang, best_ratio = None, None
    for lang, c in _LANG_RATIO.items():
        r = F.col(c)
        if best_lang is None:
            best_lang, best_ratio = F.lit(lang), r
        else:
            swap = r > best_ratio
            best_lang = F.when(swap, F.lit(lang)).otherwise(best_lang)
            best_ratio = F.when(swap, r).otherwise(best_ratio)
    pred = F.when(best_ratio >= 0.02, best_lang).otherwise(F.lit("und"))
    return staged, pred, best_ratio


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit
    ratios; 'und' (undetermined) when no language clears 2%."""
    staged, pred, best_ratio = lang_pred_exprs(df, text_col)
    return staged.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        F.round(best_ratio, 6).alias("stopword_ratio"),
    )


def quality_subscore_exprs(
    text_col: Column | str,
) -> tuple[Column, Column, Column, Column]:
    """The four Gopher-style binary subscores (length band,
    mean-word-length band, stopword presence, lexical diversity) as
    column expressions — the single source of the quality-gate
    thresholds, shared by quality_score and every fused pipeline that
    embeds the gate."""
    ws = words(text_col)
    n_words = F.size(ws).cast("double")
    # closed-form mean word length (see text_stats): length(norm)
    # minus the n-1 joining spaces, no interpreted array lambda on
    # the hot path every fused pipeline shares
    awl = (
        F.length(normalize_text(text_col)) - (F.size(ws) - F.lit(1))
    ) / F.greatest(F.size(ws), F.lit(1)).cast("double")
    diversity = F.size(F.array_distinct(ws)) / F.greatest(F.size(ws), F.lit(1)).cast(
        "double"
    )
    s_len = F.when((n_words >= 20) & (n_words <= 5000), 1.0).otherwise(0.0)
    s_awl = F.when((awl >= 2.0) & (awl <= 12.0), 1.0).otherwise(0.0)
    s_stop = F.when(stopword_ratio(text_col, "en") >= 0.01, 1.0).otherwise(0.0)
    s_div = F.when(diversity >= 0.1, 1.0).otherwise(0.0)
    return s_len, s_awl, s_stop, s_div


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic quality score in [0,1]: mean of four heuristic
    subscores (length band, mean-word-length band, stopword presence,
    lexical diversity) — the Gopher-rules family of filters as one
    scan-speed expression."""
    s_len, s_awl, s_stop, s_div = quality_subscore_exprs(text_col)
    score = F.round((s_len + s_awl + s_stop + s_div) / 4.0, 6)
    return df.select(
        F.col(id_col),
        score.alias("quality"),
        s_len.alias("s_length"),
        s_awl.alias("s_word_len"),
        s_stop.alias("s_stopwords"),
        s_div.alias("s_diversity"),
    )


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-tokenizer count (words /
    digit runs / punctuation singles) — the budget columns a training
    pipeline partitions on."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return df.select(
        F.col(id_col),
        F.size(words(text_col)).alias("ws_tokens"),
        # regexp_count: codegen-native, no materialized match array,
        # no SQL-string escaping (the old F.expr inlining needed
        # double-escaped regexes and broke on non-identifier column
        # names)
        F.regexp_count(c, F.lit(TOKEN_RE)).alias("bpe_ish_tokens"),
    )


def repetition_ratio(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3
) -> DataFrame:
    """Within-document repetition: 1 − distinct/total word n-gram
    shingles (Gopher-style boilerplate/loop signal; 0 = no repeated
    n-grams).  Distinct counts ride the existing shingle pipeline's
    doc-keyed shuffle; totals are a scan-speed expression."""
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from tmp_parquet_merge_spark.operators.dedup import shingle_rows

    total = df.select(
        F.col(id_col),
        F.greatest(F.size(words(text_col)) - (n - 1), F.lit(1)).alias("n_total"),
    )
    dist = (
        shingle_rows(df, text_col, id_col, n=n)
        .groupBy(F.col("doc").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return total.join(dist, id_col).select(
        id_col,
        F.round(1.0 - F.col("n_distinct") / F.col("n_total"), 6).alias(
            "rep_ratio"
        ),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 5
) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N/df)).

    Plan shape: explode words → (doc, term) hash-agg for tf → term
    hash-agg for document frequency → join back.  The document count N
    rides along as a broadcast 1-row aggregate (crossJoin) so the whole
    computation is one lazy plan — no driver-side ``.count()`` action,
    no recomputation of the input.  Scores are rounded to 6 places
    BEFORE ranking so both engines rank identically; ties break on the
    term for full determinism.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    nd = df.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document unigram (word-distribution) entropy in nats —
    H = ln(n) − Σ tf·ln(tf) / n — a repetition/quality signal finer
    than the distinct-shingle ratio (a doc looping one sentence scores
    near 0; diverse prose scores near ln(n_distinct)).

    Plan: explode words → (doc, term) hash-agg for tf → per-doc
    hash-agg; both aggs combine map-side, so the shuffles carry term
    counts, never text.  Cross-engine determinism: each term's
    tf·ln(tf) is rounded then summed as DECIMAL(18,6) — an exact,
    order-independent sum (double summation order varies across
    engines and partitionings).
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    contrib = F.round(F.col("tf") * F.log(F.col("tf")), 6).cast(
        "decimal(18,6)"
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(contrib).alias("s"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(
            F.log(F.col("n_tokens"))
            - F.col("s").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
    )


def ngram_freq(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 2,
    k: int = 100,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level n-gram frequency table: the ``k`` most frequent
    word n-grams appearing in ≥ ``min_docs`` documents, with mention
    and document counts — the vocab-building / boilerplate-mining
    primitive (the inputs to stopword lists and contamination probes).

    Plan: the shingle pipeline's (doc, s) rows → one hash-agg keyed by
    the n-gram (map-side combined; the shuffle carries (ngram, partial
    counts), bounded by vocabulary size, not corpus size) → global
    top-k via TakeOrderedAndProject.  Ties break lexicographically so
    both engines rank identically.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from tmp_parquet_merge_spark.operators.dedup import shingle_rows

    # per-(doc, ngram) mention counts ride a distinct-free explode;
    # shingle_rows dedups per doc, so recount mentions from raw windows
    ex = df.select(
        F.col(id_col).alias("doc"), F.posexplode(words(text_col)).alias("pos", "w")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, n)]
    grams = ex.select(
        "doc",
        F.concat_ws(" ", *leads).alias("g"),
        F.lead("w", n - 1).over(w).alias("__full"),
    ).filter(F.col("__full").isNotNull())
    agg = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("doc").alias("n_docs"),
    )
    return (
        agg.filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_mentions"), F.asc("g"))
        .limit(k)
    )


def chunk_words(
    df: DataFrame, text_col: str, id_col: str, *, chunk: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    ``chunk``-word windows advancing by ``stride`` words (overlap =
    chunk − stride) — the context-window preprocessing step for
    training/retrieval corpora.  Every word is covered; the final
    window is short rather than padded.

    Plan: one narrow pass — words → explode(sequence(0, n_chunks−1))
    → slice per chunk id.  No shuffle at all (chunking is per-row);
    output row count is Σ ceil((n_i − overlap)/stride), so at 100 TB
    the operator streams through executors with the same partitioning
    as the scan.
    """
    if not 0 < stride <= chunk:
        raise ValueError("need 0 < stride <= chunk")
    overlap = chunk - stride
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("ws") - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    ws = df.select(F.col(id_col), words(text_col).alias("ws"))
    ex = ws.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    cw = ex.withColumn(
        "cw", F.slice("ws", F.col("chunk_id") * stride + 1, chunk)
    )
    return cw.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.array_join("cw", " ").alias("chunk_text"),
        F.size("cw").alias("n_tokens"),
    )


def vocab(df: DataFrame, text_col: str, id_col: str, *, k: int = 1000) -> DataFrame:
    """Vocabulary build: the ``k`` most frequent words with contiguous
    ids (1-based, frequency-then-lexicographic order) — the tokenizer-
    training primitive downstream of corpus curation.

    Plan: explode words → one hash-agg keyed by term (map-side
    combined; the shuffle carries (term, partials), bounded by
    vocabulary size) → TakeOrderedAndProject top-k → id assignment via
    row_number over the k survivors only (a single-partition window on
    k rows, not on the corpus — deliberate and bounded).
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from tmp_parquet_merge_spark.operators.dedup import words
    from pyspark.sql import Window

    tok = df.select(F.col(id_col).alias("doc"), F.explode(words(text_col)).alias("term"))
    agg = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("doc").alias("n_docs"),
    )
    order = [F.desc("n_mentions"), F.asc("term")]
    top = agg.orderBy(*order).limit(k)
    return top.select(
        "term",
        "n_mentions",
        "n_docs",
        F.row_number().over(Window.orderBy(*order)).alias("vocab_id"),
    )


def fingerprint(
    df: DataFrame, text_col: str, id_col: str, *, shingle_n: int = 3, k: int = 4
) -> DataFrame:
    """Bottom-k document fingerprint: the k lexicographically smallest
    md5 digests over the document's distinct word shingles (a winnowing
    /bottom-k sketch).  Equal fingerprints ⇒ near-identical shingle
    sets; md5 is available verbatim in DuckDB so the sketch is
    oracle-checkable."""
    from tmp_parquet_merge_spark.operators.dedup import shingle_rows

    # shingle_rows + md5 in a flat projection (whole-stage codegen) →
    # one hash-agg; an array-lambda formulation (transform(shingles,
    # md5) over word_shingles) is interpreted per element and measured
    # ~50× slower at sf0.1.
    ex = shingle_rows(df, text_col, id_col, n=shingle_n).select(
        F.col("doc").alias(id_col), F.md5("s").alias("h")
    )
    return ex.groupBy(id_col).agg(
        F.array_join(F.slice(F.array_sort(F.collect_set("h")), 1, k), "|").alias(
            "fingerprint"
        )
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: tuple[str, ...],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 keyword search: top-k documents for a fixed term set.

    score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene/Robertson
    "plus one" form, always positive).

    Plan shape: one word explode feeds BOTH document lengths (per-doc
    hash-agg) and term frequencies (filtered to the query terms before
    the agg, so the tf shuffle carries only matching tokens); document
    frequency and the corpus stats (N, Σdl) are tiny aggregates that
    broadcast back.  Final ranking is orderBy+limit —
    TakeOrderedAndProject, no global sort at 100 TB.  Per-term score
    contributions are rounded then summed as DECIMAL(18,6) so the
    cross-engine sum is order-independent; double arithmetic inside a
    contribution follows the exact same operation order as the DuckDB
    oracle text (IEEE doubles: same ops on same values ⇒ same bits).
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok.filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    contrib = F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 6).cast(
        "decimal(18,6)"
    )
    per_doc = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .select(F.col(id_col), contrib.alias("w_term"))
        .groupBy(id_col)
        .agg(F.sum("w_term").alias("score_d"))
    )
    topk = (
        per_doc.select(F.col(id_col), F.col("score_d").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
    # rank assignment runs on ≤ k rows (post-limit), so the global
    # window is a no-op at scale
    return topk.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("score").desc(), F.col(id_col))),
    )


def collocation_pmi(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information:
    PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) over corpus-wide
    bigram/unigram frequencies — the phrase detector that feeds
    tokenizer merges and stop-phrase lists.

    Plan shape (the part that matters at 100 TB): ONE explode of the
    zipped word array feeds ONE (w1, w2) hash-agg from which both
    frequency tables derive.  ``arrays_zip(ws, slice(ws, 2, n-1))``
    pairs every token with its successor and pads the document-final
    token's successor with NULL (arrays_zip extends to the longest
    input), so each token appears exactly ONCE as ``w1`` — unigram
    counts are the w1-marginals of the same aggregate, and no per-doc
    window (and therefore NO doc-keyed exchange of the exploded corpus)
    exists anywhere in the plan.  This replaces a posexplode
    + ``lead``-window + full-token-relation localCheckpoint spelling,
    whose checkpoint erased the spread's doc partitioning and forced
    the window to re-shuffle every token row (the corpus crossed the
    wire twice).  arrays_zip/slice
    are ordinary codegen expressions, not per-element lambdas, so the
    CollapseProject re-evaluation trap that bars F.transform here does
    not apply.  The one surviving corpus-sized exchange is the
    conditional spread itself (deficient scans only; no-op at scale);
    everything downstream is bounded by VOCABULARY size: the (w1, w2)
    count is map-side-combined, the checkpoint materializes only
    vocab²-bounded rows for its two consumers, the totals ride
    broadcast 1-row aggs, and the final join keys on single words
    (AQE broadcasts the smaller side).  All PMI inputs are exact
    integers, so the double log/divisions are bit-identical across
    engines.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan).  The exchange is NOT reused downstream (the
    # first aggregate keys on (w1, w2), not the doc) — it exists purely
    # to parallelize tokenize + explode + the map-side partial
    # aggregate above a single-split scan, and it is strictly cheaper
    # than the doc-keyed window exchange it replaced (1× corpus bytes,
    # once, vs spread + post-checkpoint re-shuffle).
    df = spread_scan(df, id_col)
    ws = words(text_col)
    nxt = F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0)))
    pair = F.explode(
        F.arrays_zip(ws.alias("w1"), nxt.alias("w2"))
    ).alias("p")
    cnt = (
        df.select(pair)
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cab = cnt.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("c").alias("c_ab")
    )
    # every token occurs exactly once as w1 (the NULL-padded final
    # pair included), so the w1-marginal IS the unigram count
    uni = cnt.groupBy(F.col("w1").alias("wd")).agg(F.sum("c").alias("c"))
    nu = uni.agg(F.sum("c").alias("nu"))
    nb = cab.agg(F.sum("c_ab").alias("nb"))
    u1 = uni.select(F.col("wd").alias("w1"), F.col("c").alias("c_1"))
    u2 = uni.select(F.col("wd").alias("w2"), F.col("c").alias("c_2"))
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("nb"))
        / (
            (F.col("c_1").cast("double") / F.col("nu"))
            * (F.col("c_2").cast("double") / F.col("nu"))
        )
    )
    return (
        cab.filter(F.col("c_ab") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_1",
            "c_2",
            # + 0.0 canonicalizes IEEE -0.0 (a PMI that rounds to zero
            # from below) to 0.0, matching the oracle's spelling
            (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"),
        )
    )


def unigram_lm_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram language model — the classic cheap "perplexity" quality
    filter (documents of unusual vocabulary score low; boilerplate of
    common words scores high).  Returned as ``lm_score`` = mean
    ln p(term), p(term) = corpus_freq / corpus_total.

    Plan: explode words → (doc, term) hash-agg for tf → term hash-agg
    for corpus frequency → join tf⋈cf on the term (shuffle bounded by
    |vocabulary|, never the corpus) → per-doc hash-agg.  The corpus
    total rides as a broadcast 1-row aggregate, so the whole model
    "fit" and "apply" is one lazy plan with no driver-side action.
    Cross-engine determinism: each term's tf·ln(cf/total) contribution
    is rounded then summed as DECIMAL(18,6) (order-independent), and
    the final mean is one double division, like token_entropy.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("total"))
    contrib = F.round(
        F.col("tf") * F.log(F.col("cf") / F.col("total")), 6
    ).cast("decimal(18,6)")
    per_doc = (
        tf.join(cf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(F.sum("tf").alias("n_tokens"), F.sum(contrib).alias("s"))
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.col("s").cast("double") / F.col("n_tokens"), 6).alias(
            "lm_score"
        ),
    )


def lm_buckets(
    df: DataFrame, text_col: str, id_col: str, lang_col: str
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document under its OWN language's unigram LM, then cut each
    language's score distribution at exact terciles — documents in the
    most-fluent third are ``head``, then ``middle``, then ``tail``.
    The head/middle/tail split is the published cheap quality triage a
    crawl pipeline runs before expensive model-based filtering (CCNet
    keeps head+middle; tail feeds back as hard negatives).

    Determinism/parity — no float boundary anywhere, by construction:

    * per-term contributions follow the :func:`unigram_lm_score`
      DECIMAL(18,6) discipline, BUT the final per-doc mean is NOT
      ``round(double/double, 6)`` — ``sum/n_tokens`` can land exactly
      on a half tie at the 6th decimal (observed at sf0.1:
      −95.082190/28 = −3.3957925), where Spark's HALF_UP on the binary
      double and DuckDB's shortest-repr rounding disagree by 1e-6 (a
      predicted tie class).  Instead the mean is rounded
      in EXACT integer arithmetic: s_int = s·10⁶ (exact — s has scale
      6), micro = sign · ((2·|s_int| + n) intdiv (2·n)) is
      round-half-away-from-zero of s_int/n with no floats, and
      lm_score = micro/10⁶ is the same double on both engines.
    * the tercile cut is integer RANK arithmetic, not interpolated
      quantiles: rn·3 ≤ n_lang → head, rn·3 ≤ 2·n_lang → middle, else
      tail, with rn = row_number over (lang / lm_score desc, id) — an
      interpolated quantile_cont cutoff can differ in the last ulp
      across engines and (once rounded to the 6-dp grid the scores
      live on) flip boundary documents.

    Plan: the per-lang LM is vocabulary-bounded hash-aggs + a
    |langs|-row broadcast total; bucketing is one per-lang window pass
    (rank + count share the same sort).  No string wider than a term
    ever shuffles; nothing is quadratic.  At 100 TB the per-lang
    window is a range-partitioned sort — the same shape CCNet's
    per-language percentile split pays.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode(words(text_col)).alias("term"),
    )
    # tf feeds three consumers (the per-doc join, the per-lang model,
    # the per-lang totals); localCheckpoint so the corpus is scanned
    # and exploded ONCE — without it each broadcast build side re-runs
    # the whole scan+explode pipeline (three corpus scans in the plan)
    tf = (
        tok.groupBy(id_col, lang_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    cf = tf.groupBy(lang_col, "term").agg(F.sum("tf").alias("cf"))
    total = cf.groupBy(lang_col).agg(F.sum("cf").alias("total"))
    contrib = F.round(
        F.col("tf") * F.log(F.col("cf") / F.col("total")), 6
    ).cast("decimal(18,6)")
    per_doc = (
        tf.join(cf, [lang_col, "term"])
        .join(F.broadcast(total), lang_col)
        .groupBy(id_col, lang_col)
        .agg(F.sum("tf").alias("n_tokens"), F.sum(contrib).alias("s"))
    )
    s_int = (F.col("s") * 1000000).cast("long")
    sign = F.when(s_int < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    micro = sign * F.expr(
        "(2 * abs(__s_int) + n_tokens) div (2 * n_tokens)"
    )
    scores = per_doc.withColumn("__s_int", s_int).select(
        F.col(id_col),
        F.col(lang_col),
        F.col("n_tokens"),
        (micro / F.lit(1000000.0)).alias("lm_score"),
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("lm_score"), F.asc(id_col)
    )
    wn = Window.partitionBy(lang_col)
    rn = F.row_number().over(w)
    n_lang = F.count(F.lit(1)).over(wn)
    bucket = (
        F.when(rn * 3 <= n_lang, F.lit("head"))
        .when(rn * 3 <= n_lang * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scores.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("n_tokens"),
        F.col("lm_score"),
        bucket.alias("bucket"),
    )


def bigram_lm_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Interpolated bigram language-model scoring: mean
    ln p(w_i | w_{i-1}) per document under the corpus's own bigram
    model with unigram interpolation (Jelinek-Mercer smoothing,
    λ = 0.75) — the expressible middle step between
    :func:`unigram_lm_score`'s cheap filter and CCNet's external KenLM
    5-gram: conditioning on the previous word separates fluent prose
    from bag-of-frequent-words boilerplate the unigram score ranks
    identically.

      p(w|v) = 0.75·c(v,w)/c(v) + 0.25·c(w)/N

    Plan (A/B/C measured at sf0.1 AND the 25× replica): posexplode +
    one per-doc ``lead`` window feeds the (doc, v, w2) tf hash-agg,
    which is checkpointed once.
    This keeps two properties the :func:`collocation_pmi` arrays_zip
    spelling (variant B, tried and REJECTED here) loses: the window
    needs only doc-hash clustering, which the deficient-scan spread
    already provides (no exchange at sf-tier) and which the tf
    aggregate then REUSES via the subset rule (hashpartitioning(doc)
    satisfies ClusteredDistribution(doc, v, w2) — the agg runs
    complete, with NO exchange of the mostly-unique bigram rows); and
    the exploded rows carry ONE string, not the zip struct's two (the
    zip variant shuffled/aggregated ~2× the string bytes and measured
    6.4-7.3 s with 30 s GC spikes at the 25× replica vs 4.4 s stable
    for this shape).  The unigram branch must not re-run the
    scan+SPREAD+explode subtree (a second full corpus exchange at
    sf-tier, ~4-5 s of a 7 s query) — the back-off model
    tokenizes the RAW scan directly (map-only, vocabulary-bounded
    partial agg, no exchange, no spread).  The model relations are
    bigram-/unigram-vocabulary-bounded aggregates joined back on their
    keys, and the corpus total is a broadcast 1-row aggregate — model
    "fit" and "apply" in one lazy plan, nothing corpus-quadratic.

    Determinism/parity: per-bigram contributions are rounded and
    summed as DECIMAL(18,6), and the final mean uses the
    :func:`lm_buckets` exact-integer half-away rounding (s·10⁶ is an
    exact BIGINT), so no float rounding tie can split the engines.
    One-word documents have no bigrams and score NULL (row retained).
    """
    from pyspark.sql import Window

    raw = df
    ws = words(text_col)
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): keyed by the doc id so the lead-window's
    # doc-clustering reuses the exchange, and the (doc, v, w2) tf
    # aggregate then ALSO reuses it (subset rule) — the bigram rows
    # never shuffle
    df = spread_scan(df, id_col)
    ex = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(ws).alias("pos", "w"),
    )
    win = Window.partitionBy("doc").orderBy("pos")
    pairs = ex.select(
        "doc",
        F.col("w").alias("v"),
        F.lead("w", 1).over(win).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    tf = (
        pairs.groupBy("doc", "v", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    cb = tf.groupBy("v", "w2").agg(F.sum("tf").alias("cvw"))
    cv = cb.groupBy("v").agg(F.sum("cvw").alias("cv"))
    # unigram model over ALL tokens (not just bigram heads), so the
    # back-off term sees every word exactly once per occurrence.  It
    # tokenizes the RAW scan — map-only, vocabulary-bounded partial
    # agg, NO spread: routing it through the spread relation re-ran
    # the corpus exchange just to count words (the sf-tier cost)
    cw = raw.select(F.explode(ws).alias("w2")).groupBy("w2").agg(
        F.count(F.lit(1)).alias("cw")
    )
    total = cw.agg(F.sum("cw").alias("n_total"))
    p = (
        F.lit(0.75) * (F.col("cvw").cast("double") / F.col("cv"))
        + F.lit(0.25) * (F.col("cw").cast("double") / F.col("n_total"))
    )
    contrib = F.round(F.col("tf") * F.log(p), 6).cast("decimal(18,6)")
    per_doc = (
        tf.join(cb, ["v", "w2"])
        .join(cv, "v")
        .join(cw, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc")
        .agg(F.sum("tf").alias("n_bigrams"), F.sum(contrib).alias("s"))
    )
    s_int = (F.col("s") * 1000000).cast("long")
    sign = F.when(s_int < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    micro = sign * F.expr(
        "(2 * abs(__s_int) + n_bigrams) div (2 * n_bigrams)"
    )
    scored = per_doc.withColumn("__s_int", s_int).select(
        F.col("doc").alias(id_col),
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        (micro / F.lit(1000000.0)).alias("lm2_score"),
    )
    # keep-all-docs id list reads the RAW scan: routing it through the
    # spread relation would pay the conditional exchange just to list
    # ids (same lesson as the unigram branch above)
    base = raw.select(F.col(id_col))
    return base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias(
            "n_bigrams"
        ),
        F.col("lm2_score"),
    )


def tokenizer_fertility(
    df: DataFrame, text_col: str, id_col: str, lang_col: str
) -> DataFrame:
    """Tokenizer fertility by language: mean sub-word tokens per
    whitespace word and mean characters per token under the BPE-ish
    pre-tokenizer — the standard multilingual tokenizer-efficiency
    metric (fertility ≫ 1 for a language means its text costs
    disproportionate sequence length; the signal behind per-language
    token budgeting and vocabulary sizing in multilingual models).

    All counts are exact integers aggregated per language (ratios are
    single divisions of BIGINT sums — no float accumulation, so
    cross-engine parity is free); the scan is two codegen
    regexp_counts per row, no shuffle beyond the |langs|-row hash-agg.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    per_doc = df.select(
        F.col(lang_col),
        F.size(words(text_col)).cast("long").alias("n_words"),
        F.regexp_count(c, F.lit(TOKEN_RE)).cast("long").alias("n_tokens"),
        F.length(normalize_text(text_col)).cast("long").alias("n_chars"),
    )
    agg = per_doc.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_chars").alias("chars"),
    )
    return agg.select(
        F.col(lang_col),
        F.col("n_docs"),
        F.col("tokens"),
        F.round(F.col("tokens") / F.col("words"), 6).alias("fertility"),
        F.round(F.col("chars") / F.col("tokens"), 6).alias(
            "chars_per_token"
        ),
    )


def winnowing_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    w: int = 8,
    chunk_positions: int = 4096,
    dedup: bool = True,
) -> DataFrame:
    """The winnowing SELECTION relation: one row per selected
    fingerprint, (id, npos, h, pos) — the 40-bit k-gram hash and its
    1-based rightmost-min position in the full document.  Shared by
    :func:`winnowing_fingerprints` (per-doc audit aggregate), by
    :func:`winnow_overlap_pairs` (the MOSS matching step), and by
    tests that pin the SIGMOD-2003 guarantee on the raw fingerprint
    sets (any shared substring of length ≥ k+w−1 shares a selected
    hash).

    Long documents chunk TRANSPARENTLY (raising past 2²⁰ chars would
    make million-char crawl pages unrunnable): each document splits
    into chunks of
    ``chunk_positions`` gram positions with stride ``chunk_positions −
    (w−1)``, so consecutive chunks overlap by exactly w−1 positions
    (= w+k−2 chars) and every w-gram window of the original document
    is evaluated in EXACTLY ONE chunk.  Winnowing is a local algorithm
    — each window's rightmost-min decision depends only on the hashes
    inside the window, and relative position order within a window is
    offset-invariant — so the union of per-chunk selections
    re-attributed to parent-document positions IS the unchunked
    selection set, bit for bit (pinned by tests at forced-small chunk
    sizes and by the hypothesis property suite).

    Chunking is ALSO the cost fix that makes million-char documents
    practical: ``substr(text, p, k)`` is O(p) in the JVM (UTF8String
    scans to the char offset), so hashing every position of an
    L-char document directly is O(L²) — ~10¹² byte-scans at L = 2²⁰.
    Materializing each chunk's text once (one O(L) substr per chunk)
    and hashing chunk-locally makes the gram stage O(L·chunk_positions)
    — linear in document length at fixed chunk size.

    The rightmost-min tie rule stays encoded in one BIGINT over
    CHUNK-LOCAL positions: v = h·2²⁰ + (2²⁰−1−p_local), with p_local ≤
    chunk_positions < 2²⁰ by construction — the packing can no longer
    overflow at any document length; the global position is decoded
    and re-attributed (offset + local) AFTER the per-chunk window
    min.

    Chunk slices shuffle ONCE on (id, chunk-offset) before the gram
    explode (this replaces an opt-in ``repartition_chunks_above``
    two-branch spelling, which kept the gram-row exchange as the
    default path).  Guide §2.3 economics:
    the window's clustering requirement is satisfied either way, but
    satisfying it by exchanging GRAM ROWS moves ~40 B × every gram
    position (≈ 40× corpus bytes), while exchanging the already-
    materialized ≤ chunk_positions+k−1-char chunk SLICES moves
    ≈ 1× corpus bytes — strictly fewer shuffle bytes at every scale,
    not a local-mode trick.  The window REUSES the repartition's
    hashpartitioning (plan-asserted: exactly one exchange before the
    window), and the per-position md5 projection now runs AFTER the
    chunk exchange, so gram hashing parallelizes across the cluster
    even when the scan side has few splits (one small parquet file
    locally; a handful of 100 MB outlier documents in a crawl shard)
    instead of sitting in the task that held the parent row —
    the "straggler" path is simply the only path, for all
    documents.  Selection-set equality with the pure-Python reference
    is pinned in the hypothesis property suite."""
    from pyspark.sql import Window

    pos_cap = 1 << 20
    if not (w <= chunk_positions < pos_cap):
        raise ValueError(
            f"chunk_positions must be in [w, 2^20): got {chunk_positions}"
            f" (w={w})"
        )
    stride = chunk_positions - (w - 1)
    norm = normalize_text(text_col)
    raw_npos = F.length(norm) - F.lit(k - 1)
    base = df.select(
        F.col(id_col),
        norm.alias("__norm"),
        raw_npos.alias("npos"),
    ).filter(F.col("npos") >= w)
    # chunk c covers gram positions [c·stride + 1, c·stride + L] with
    # L = least(chunk_positions, npos − c·stride); the last chunk index
    # is floor((npos − w) / stride), and every chunk keeps L ≥ w (no
    # degenerate tails: (n_chunks−1)·stride < npos − w + 1).  The
    # chunk TEXT is materialized here — one O(doc) substr per chunk —
    # and __norm is dropped, so the gram explode below carries only
    # the ~chunk_positions-char slice.
    c = F.col("c")
    chunk_len = F.least(
        F.lit(chunk_positions), F.col("npos") - c * F.lit(stride)
    )
    chunks = base.select(
        F.col(id_col),
        "npos",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.col("npos") - F.lit(w)) / F.lit(stride)),
            )
        ).alias("c"),
        F.col("__norm"),
    ).select(
        F.col(id_col),
        "npos",
        (c * F.lit(stride)).alias("off"),
        chunk_len.alias("L"),
        F.col("__norm")
        .substr(c * F.lit(stride) + F.lit(1), chunk_len + F.lit(k - 1))
        .alias("__chunk"),
    )
    # one corpus-bytes exchange of chunk slices; the (id, off) window
    # below reuses this hashpartitioning, so no gram-row exchange ever
    # exists (see docstring) and gram hashing is cluster-parallel.
    # The partition count is EXPLICIT (REPARTITION_BY_NUM): AQE's
    # byte-based coalescing sees ~1 byte per ~40 bytes of downstream
    # gram work and would re-serialize the hashing onto 1-2 tasks
    # (measured: coalesced to <=2 partitions at sf0.1, erasing the
    # parallelism this exchange exists to create).  Scale-adaptive,
    # not a local constant: optimizer-estimated chunk bytes divided
    # by a per-task budget, floored at the cluster's default
    # parallelism.  Selection results are layout-invariant (BIGINT
    # window mins + distinct), so the cores floor cannot perturb
    # output at any core count.
    chunks = chunks.repartition(
        _hash_work_partitions(chunks), F.col(id_col), F.col("off")
    )
    def _selected(chunk_rel: DataFrame) -> DataFrame:
        grams = chunk_rel.select(
            F.col(id_col),
            "npos",
            "off",
            "L",
            F.explode(F.sequence(F.lit(1), F.col("L"))).alias("p"),
            F.col("__chunk"),
        ).select(
            F.col(id_col),
            "npos",
            "off",
            "L",
            "p",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.col("__chunk")
                            .substr(F.col("p"), F.lit(k))
                            .cast("binary")
                        ),
                        1,
                        10,
                    ),
                    16,
                    10,
                ).cast("long")
                * F.lit(pos_cap)
                + (F.lit(pos_cap - 1) - F.col("p"))
            ).alias("v"),
        )
        win = (
            Window.partitionBy(id_col, "off")
            .orderBy("p")
            .rowsBetween(0, w - 1)
        )
        return (
            grams.withColumn("mv", F.min("v").over(win))
            .filter(F.col("p") <= F.col("L") - F.lit(w - 1))
            .select(
                F.col(id_col),
                "npos",
                F.shiftright("mv", 20).alias("h"),
                (
                    F.col("off")
                    + F.lit(pos_cap - 1)
                    - (F.col("mv") % F.lit(pos_cap))
                ).alias("pos"),
            )
        )

    # ``dedup=False`` skips the (id, npos, h, pos)-distinct exchange
    # for consumers that immediately re-aggregate on a SUBSET of these
    # columns (winnow_overlap_pairs' (id, h)-distinct subsumes it):
    # the emitted multiset differs only in duplicated selections —
    # adjacent windows sharing a min, chunk-overlap repeats — never in
    # the selected SET (one exchange saved).
    sel = _selected(chunks)
    return sel.distinct() if dedup else sel


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprint selection (Schleimer, Wilkerson
    & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003 — the MOSS algorithm): hash every
    character ``k``-gram of the normalized text, slide a window of
    ``w`` consecutive hashes, and in each window select the minimum
    hash, rightmost position on ties.  The selected (position, hash)
    set is the document's fingerprint — winnowing guarantees any
    shared substring of length ≥ k+w-1 yields at least one shared
    fingerprint (the local-algorithm property that makes it the
    plagiarism/boilerplate detector of record), with expected density
    2/(w+1).

    Cross-engine determinism: the k-gram hash is the first 40 bits of
    md5 (``conv(substring(md5(gram),1,10),16,10)`` ≙ DuckDB
    ``('0x'||substring(md5(gram),1,10))::BIGINT``), and the
    rightmost-min tie rule is ENCODED IN INTEGER ARITHMETIC rather
    than window-function tie-breaking: v = h·2²⁰ + (2²⁰−1−pos), so
    MIN(v) picks the smallest hash and, among equal hashes, the
    largest position — one deterministic BIGINT min on both engines.
    (Documents of ANY length are handled: winnowing_select chunks
    long documents transparently with w−1-position overlap, which
    reproduces the unchunked selection exactly — see its docstring.)

    Scale shape: one codegen projection per position row (the hash is
    computed BEFORE the per-document window shuffle, so the exchange
    carries (id, pos, v, npos) ints only — the text never shuffles);
    one partition-local running MIN window per document; the
    fingerprint aggregate is one row per document.  Positions explode
    ~n_chars rows per doc — the same sub-document row volume as
    q_dedup_segments, linear in corpus bytes."""
    sel = winnowing_select(df, text_col, id_col, k=k, w=w)
    return sel.groupBy(id_col, "npos").agg(
        F.count(F.lit(1)).alias("n_fp"),
        # h is already the decoded 40-bit hash (winnowing_select
        # decodes via shiftright, NOT floor(mv / 2^20): `/` is DOUBLE
        # division and v occupies 60 bits — the 53-bit mantissa drops
        # the low bits and floors off-by-one)
        F.sum(F.col("h")).alias("fp_sum"),
    ).select(
        F.col(id_col),
        F.col("npos").cast("long").alias("n_grams"),
        F.col("n_fp"),
        F.col("fp_sum"),
        F.round(F.col("n_fp") / F.col("npos"), 6).alias("density"),
    )


def zipf_fit(
    df: DataFrame, text_col: str, id_col: str, *, top_v: int = 1000
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope/intercept
    of ln(freq) against ln(rank) for the ``top_v`` most frequent word
    types (rank ties broken by token text, so the rank order — and
    hence the fit — is deterministic).  A healthy natural-language
    corpus fits slope ≈ −1; a slope collapsing toward 0 (template
    spam) or below −1.5 (boilerplate domination) is the classic
    corpus-health diagnostic (Zipf 1949; Piantadosi 2014 review).

    Scale shape: the frequency table is a vocabulary-bounded hash-agg
    over exploded words; the top-``top_v`` cut is TakeOrderedAndProject
    (heap, no global sort) and the rank window runs over exactly
    ``top_v`` rows — driver-bounded by construction, like the capped
    query matrices in similarity.py.  regr_slope/regr_intercept are
    Spark built-ins with the same Welford-style moments DuckDB uses;
    outputs are single roundings of the fitted moments (the
    q_grouped_apply precedent)."""
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from pyspark.sql import Window

    freq = (
        df.select(F.explode(words(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = freq.orderBy(F.desc("freq"), F.asc("token")).limit(top_v)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("freq"), F.asc("token"))
        ),
    )
    return ranked.agg(
        F.round(
            F.expr("regr_slope(ln(freq), ln(rank))"), 6
        ).alias("zipf_slope"),
        F.round(
            F.expr("regr_intercept(ln(freq), ln(rank))"), 6
        ).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_types_fit"),
        F.sum("freq").alias("n_tokens_fit"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    w: int = 8,
    max_df: int = 16,
    min_shared: int = 3,
) -> DataFrame:
    """Cross-document fingerprint overlap — the MOSS matching step
    applied to the winnowing selection: two documents match when they
    share ≥ ``min_shared`` selected fingerprint HASHES (positions
    ignored, the standard winnowing match semantics).  Reports the
    shared count and the containment-style overlap fraction
    n_shared / min(n_fp_a, n_fp_b).

    Scale discipline: fingerprints selected by more than ``max_df``
    documents are STOP-FINGERPRINTS (ubiquitous boilerplate — headers,
    license blocks) and are dropped before pairing, which both
    mirrors MOSS's practice of ignoring over-common substrings and
    bounds the per-fingerprint pair fan-out at C(max_df, 2) — the
    same cap discipline as the LSH band-bucket joins.  The pair
    relation then carries (h, doc_a, doc_b) ints only; bodies never
    move.  The dropped-count is not silently hidden: boilerplate
    hashes are deterministic, so the df cut is reproducible
    cross-engine and spelled identically in the oracle."""
    # dedup=False: the (id, h)-distinct below subsumes the selection-
    # set distinct, so the raw multiset skips one full exchange
    sel = winnowing_select(df, text_col, id_col, k=k, w=w, dedup=False)
    # four consumers (per-doc sizes, doc-frequency cut, both join
    # sides) — checkpoint the small (id, h) relation so the md5
    # position pipeline runs ONCE, not once per consumer
    fp = (
        sel.select(F.col(id_col), "h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    per_doc = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    dfreq = fp.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    keep = fp.join(
        dfreq.filter(
            (F.col("df") >= 2) & (F.col("df") <= F.lit(max_df))
        ).select("h"),
        "h",
    )
    pairs = (
        keep.alias("a")
        .join(
            keep.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    na = per_doc.select(
        F.col(id_col).alias("doc_a"), F.col("n_fp").alias("__fa")
    )
    nb = per_doc.select(
        F.col(id_col).alias("doc_b"), F.col("n_fp").alias("__fb")
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("__fa", "__fb"), 6
            ).alias("overlap"),
        )
    )


def heaps_fit(
    df: DataFrame, text_col: str, id_col: str, *, buckets: int = 10
) -> DataFrame:
    """Heaps'-law corpus-health fit — the vocabulary-GROWTH companion
    of :func:`zipf_fit`'s frequency fit: V(n) ≈ K·n^β, estimated as
    the OLS slope/intercept of ln(cumulative distinct types) against
    ln(cumulative tokens) at ``buckets`` corpus prefixes (deciles of
    the doc_id order).  Natural language fits β ≈ 0.4–0.6 (Heaps
    1978); β → 0 flags a closed template vocabulary, β → 1 flags
    id/hash spam — the two corpus pathologies a crawl pipeline wants
    an alarm for before tokenizer training.

    Scale shape: cumulative TYPES need no per-prefix distinct — each
    type is counted once at the bucket of its FIRST occurrence
    (min doc_id per word, a vocabulary-bounded hash-agg), then a
    ``buckets``-row running sum; cumulative tokens are a per-doc count
    rolled up the same way.  Requires dense 0..n−1 doc ids for the
    equal-width bucketing (the bundled corpus contract; assert in the
    caller otherwise).  regr_slope/regr_intercept over ``buckets``
    rows — same single-rounding parity contract as zipf_fit."""
    from tmp_parquet_merge_spark.operators.dedup import words
    from pyspark.sql import Window

    # n_docs BEFORE the spread (a measured q_heaps_fit
    # regression): count() on the raw scan is a metadata-only parquet
    # aggregate pushdown, but count() over the repartitioned relation
    # executes the full corpus exchange just to count rows
    n_docs = df.count()
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode and the map-side partial
    # aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    b = buckets
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(words(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    # tokens per bucket
    tok_b = tok.groupBy(
        F.expr(f"doc * {b} div {n_docs}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("toks"))
    # new types per bucket (bucket of each type's first occurrence)
    first = tok.groupBy("w").agg(F.min("doc").alias("first_doc"))
    new_b = first.groupBy(
        F.expr(f"first_doc * {b} div {n_docs}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_types"))
    win = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pts = (
        tok_b.join(new_b, "bucket", "left")
        .select(
            "bucket",
            F.sum("toks").over(win).alias("cum_tokens"),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(win)
            .alias("cum_types"),
        )
    )
    # + 0.0 canonicalizes IEEE signed zero: a saturated vocabulary
    # (every type seen in bucket 0) fits slope -0.0 in DuckDB vs 0.0
    # here, and the driver hashes '-0' != '0' (the q_column_stats
    # lesson) — the addition is an exact no-op for every other value
    return pts.agg(
        (
            F.round(
                F.expr("regr_slope(ln(cum_types), ln(cum_tokens))"), 6
            )
            + F.lit(0.0)
        ).alias("heaps_beta"),
        (
            F.round(
                F.expr("regr_intercept(ln(cum_types), ln(cum_tokens))"), 6
            )
            + F.lit(0.0)
        ).alias("heaps_lnk"),
        F.count(F.lit(1)).alias("n_points"),
        F.max("cum_tokens").alias("n_tokens"),
        F.max("cum_types").alias("n_types"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    top_k: int = 20,
) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top-k
    word types (Cormode & Muthukrishnan 2005) — with the sketch's
    defining one-sided error surfaced per row: (token, exact count,
    CMS estimate, overestimate ≥ 0).

    Unlike the HLL/GK sketch family (rows-only: their estimators are
    engine-private), a CMS built on md5-derived bucket hashes is FULLY
    DETERMINISTIC — DuckDB recomputes the identical d×w counter table
    in SQL, so this sketch carries an exact cross-engine oracle (the
    q_dedup_simhash graduation pattern applied to a frequency sketch).

    Scale story: the counter table is FIXED d·w state (4096 cells
    here) regardless of vocabulary size — the bounded-memory frequency
    table for unbounded token streams; counters partial-aggregate
    map-side, so the shuffle carries ≤ d·w rows per partition.  The
    exact column is the verify stage (vocabulary-bounded hash-agg +
    heap cut); at open scale it drops and the sketch stands alone."""
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, id_col)
    from tmp_parquet_merge_spark.operators.dedup import words

    tok = df.select(F.explode(words(text_col)).alias("w")).filter(
        F.col("w") != ""
    )

    def bucket(i: int, col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), col)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % width
        )

    # d×w counter table: one hash-agg over (row, bucket) pairs
    counters = (
        tok.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"),
                            bucket(i, F.col("w")).alias("bucket"),
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("rb")
        )
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # exact top-k types (the verify stage, vocabulary-bounded)
    exact = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("w"))
        .limit(top_k)
    )
    probes = exact.select(
        "w",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        bucket(i, F.col("w")).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("w", "exact_cnt", "rb.row", "rb.bucket")
    est = (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("w", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        F.col("w").alias("token"),
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 8,
) -> DataFrame:
    """Multi-round BPE tokenizer TRAINING (Sennrich, Haddow & Birch,
    ACL 2016 §3.2): ``n_merges`` fixed rounds, each picking the
    corpus-weighted most-frequent adjacent symbol pair and rewriting
    the vocabulary by greedy left-to-right non-overlapping merge —
    the iterative form of the single q_bpe_merge step, and the last
    published-algorithm family the tokenizer story was missing
    (fertility / perplexity / vocab already exist).

    Returns the merge TABLE (step, lhs, rhs, merged, n) — the
    tokenizer artifact itself, deterministic via (count DESC, pair
    ASC) tie-break, so the whole training loop is exactly
    oracle-checkable (the q_pagerank fixed-round discipline).

    Scale shape (the q_pagerank loop discipline): ONE corpus scan
    reduces to the (word, count) vocabulary relation — everything
    after is vocabulary-sized, which is what makes BPE trainable on a
    100 TB corpus (every production tokenizer trains this way:
    corpus → word histogram → merges over the histogram).  Each round
    is a vocabulary-sized pair hash-agg, a 1-row argmax collect
    (bounded driver state, the k-means contract), and a
    vocabulary-sized array fold; per-round relations are
    localCheckpoint'd so plan depth stays constant across rounds.

    The symbol-array fold is pure JVM higher-order-function code
    (``F.aggregate``): merging pair (l, r) replaces the accumulator's
    last element when it equals l and the incoming symbol equals r —
    exactly greedy left-to-right non-overlap, since the merged symbol
    l||r can never equal l.  No UDF anywhere.
    """
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, text_col)
    from tmp_parquet_merge_spark.operators.dedup import words

    vocab = (
        df.select(F.explode(words(text_col)).alias("wd"))
        .filter(F.length("wd") >= 1)
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merges, _ = _bpe_loop(vocab, n_merges)
    return df.sparkSession.createDataFrame(
        merges,
        "step: int, lhs: string, rhs: string, merged: string, n: bigint",
    )


def _bpe_loop(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The BPE training loop over a (wd, c) word histogram: returns
    the merge list AND the final vocabulary symbolization (wd, c, sy)
    — shared by :func:`bpe_train` (emits the merge table) and
    :func:`bpe_apply` (tokenizes the corpus with the final sy)."""
    cur = vocab.select(
        "wd", "c", F.split("wd", "").alias("sy")
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pair_rows = (
            cur.filter(F.size("sy") >= 2)
            .select(
                "c",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sy) - 1), i -> "
                        "concat(element_at(sy, i), ' ', "
                        "element_at(sy, i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("c").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not pair_rows:
            break
        pair, n = pair_rows[0].pair, pair_rows[0].n
        lhs, rhs = pair.split(" ")
        merged = lhs + rhs
        merges.append((step, lhs, rhs, merged, n))
        l_lit, r_lit, m_lit = F.lit(lhs), F.lit(rhs), F.lit(merged)
        folded = F.aggregate(
            F.col("sy"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == l_lit)
                & (x == r_lit),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(m_lit)
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        cur = cur.select("wd", "c", folded.alias("sy")).localCheckpoint(
            eager=False
        )
    return merges, cur


def bpe_apply(
    df: DataFrame,
    text_col: str,
    source_col: str,
    *,
    n_merges: int = 8,
) -> DataFrame:
    """The APPLY half of BPE training (the engine's blacklist-APPLIED
    pattern: q_segments_clean / q_substring_clean): tokenize the
    corpus under the ``n_merges``-rule tokenizer :func:`bpe_train`
    fits on the SAME corpus, and report the per-source token economics
    (word count, BPE token count, fertility = tokens/word) — the
    number a tokenizer owner reads to see which source pays the most
    subword splits under the corpus's own merges.

    One corpus scan → the (source, word, cnt) hash-agg; the training
    histogram is its re-aggregation (no second scan), the trained
    symbolization joins back on the word key, and the result is a
    |sources|-row aggregate.  Nothing after the first hash-agg exceeds
    vocabulary × sources rows at any corpus scale."""
    # parallelism floor for deficient scans (no-op at scale; see
    # dedup.spread_scan): tokenize/explode
    # and the map-side partial aggregates run cluster-parallel
    df = spread_scan(df, text_col)
    from tmp_parquet_merge_spark.operators.dedup import words

    sw = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(words(text_col)).alias("wd"),
        )
        .filter(F.length("wd") >= 1)
        .groupBy("source", "wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    vocab = sw.groupBy("wd").agg(F.sum("cnt").alias("c"))
    _, fitted = _bpe_loop(vocab, n_merges)
    tok = fitted.select("wd", F.size("sy").cast("long").alias("n_sym"))
    return (
        sw.join(tok, "wd")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_words"), 6).alias(
                "fertility"
            ),
        )
        .orderBy("source")
    )
