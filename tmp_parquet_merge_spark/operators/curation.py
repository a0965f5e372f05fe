"""Corpus-curation operators: deterministic dataset splits.

A training-data pipeline must assign every document to
train/val/test *stably* — re-running the pipeline over a grown corpus
must never move an old document between splits (that leaks eval data
into training).  Random `df.sample` fails that; hashing the document id
gives a pure function of the row.

Spark-first: one scan-speed expression, no shuffle, no UDF.  The hash
is md5 (spelled identically in DuckDB, so the assignment itself is
oracle-checked) and the split decision is a lexicographic compare on
the first hex nibble — '0'..'9' < 'a'..'f' in ASCII, so 16 equal-mass
buckets split 13/2/1 ⇒ 81.25% / 12.5% / 6.25%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    *,
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff the first
    two hex nibbles of ``md5(id)`` fall under its stratum's threshold
    (rate quantized to /256).  This is corpus mixing — downweight
    overrepresented sources to a target mixture — as a pure row
    function: scan-speed, shuffle-free, stable under corpus growth,
    and reproducible across engines (md5 + lexicographic hex compare).
    """

    def thresh(rate: float) -> str:
        n = max(0, min(256, round(rate * 256)))
        return format(n - 1, "02x") if n > 0 else ""

    nib = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    expr = None
    for stratum, rate in sorted(rates.items()):
        branch = F.when(F.col(strata_col) == stratum, F.lit(thresh(rate)))
        expr = branch if expr is None else expr.when(
            F.col(strata_col) == stratum, F.lit(thresh(rate))
        )
    cut = (
        expr.otherwise(F.lit(thresh(default_rate)))
        if expr is not None
        else F.lit(thresh(default_rate))
    )
    return df.filter(nib <= cut)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    *,
    budget: int,
    part_col: str | None = None,
) -> DataFrame:
    """Contiguous sequence packing: documents ordered by id are laid
    end-to-end into fixed-size token windows ("packs"); each document
    gets the pack holding its first token and its token offset inside
    that pack.  This is the batch shape of
    training-sequence packing — deterministic (no RNG), and a pure
    window computation: pack_id = floor(tokens_before / budget),
    pack_offset = tokens_before mod budget.

    Scale: a single global ordering would serialize on one partition,
    so ``part_col`` (e.g. the source/shard column) scopes the packing —
    each shard packs independently, exactly how a 100 TB corpus is
    packed per input shard in practice.  One shuffle on ``part_col``,
    one sorted pass per partition.
    """
    from pyspark.sql import Window

    part = F.col(part_col) if part_col else F.lit(0)
    w = (
        Window.partitionBy(part)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    cols = [F.col(id_col)] + ([F.col(part_col)] if part_col else [])
    return df.select(
        *cols,
        F.col(token_col),
        F.floor(before / budget).cast("int").alias("pack_id"),
        (before % budget).cast("int").alias("pack_offset"),
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, *, k: int
) -> DataFrame:
    """Deterministic weighted sampling without replacement (the
    exponential-sort / A-ES scheme): each row gets the key
    ln(u) / w with u = md5-derived uniform in (0, 1], and the ``k``
    largest keys win — equivalent to sequential weighted draws, but a
    pure row function plus a top-k, so it is reproducible, stable
    under corpus growth, and engine-checkable (md5 + IEEE double
    arithmetic spell identically in DuckDB).

    Plan: scan-speed key computation (no UDF) →
    TakeOrderedAndProject top-k (per-partition heaps, single narrow
    collect of k rows) — no full sort, no wide shuffle at any scale.
    """
    # first 8 md5 hex chars → integer in [0, 2^32) → u in (0, 1]
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (h + 1) / F.lit(float(1 << 32))
    key = F.log(u) / F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    return (
        df.withColumn("sample_key", F.round(key, 9))
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )


def split_assign(df: DataFrame, id_col: str) -> DataFrame:
    """Assign each row to train/val/test by the first hex nibble of
    ``md5(id)``: nibbles 0–c → train (13/16), d–e → val (2/16),
    f → test (1/16).  Deterministic, shuffle-free, oracle-checkable."""
    nib = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return df.select(
        F.col(id_col),
        F.when(nib <= "c", "train")
        .when(nib <= "e", "val")
        .otherwise("test")
        .alias("split"),
    )


def _hashed_term_buckets(
    df: DataFrame, text_col: str, id_col: str, target: "F.Column", *, n_buckets: int
) -> DataFrame:
    """Per-document hashed n-gram (unigram + bigram) bucket counts —
    the DSIR feature extractor (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling").

    Returns (doc, is_target, b, cnt).  The term strings are hashed to
    ``n_buckets`` integer buckets BEFORE the aggregation shuffle, so
    only (int doc, bool, int bucket) rows ever ride the wire — the
    same digest-before-shuffle discipline as exact dedup.  The hash is
    the first 8 md5 hex chars as an integer (the repo-wide
    engine-portable hash: spelled ``('0x' || substr(md5(term), 1,
    8))::BIGINT`` in DuckDB), NOT xxhash64, which DuckDB lacks.

    Bigrams come from one ``lead`` over (doc, pos) — the shingle_rows
    formulation — so the only pre-agg shuffle is the per-doc window,
    and the per-doc count relation is bounded by
    min(2·words, n_buckets) rows per document at any corpus scale.
    """
    from pyspark.sql import Window

    from tmp_parquet_merge_spark.operators.dedup import words

    ex = df.select(
        F.col(id_col).alias("doc"),
        target.alias("is_target"),
        F.posexplode(words(text_col)).alias("pos", "w"),
    )
    win = Window.partitionBy("doc").orderBy("pos")
    led = ex.select(
        "doc", "is_target", "w", F.lead("w", 1).over(win).alias("nxt")
    )
    terms = led.select(
        "doc",
        "is_target",
        F.explode(
            F.array(
                F.col("w"),
                F.when(
                    F.col("nxt").isNotNull(), F.concat_ws(" ", "w", "nxt")
                ),
            )
        ).alias("term"),
    ).filter(F.col("term").isNotNull())
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")
    return (
        terms.select("doc", "is_target", bucket.alias("b"))
        .groupBy("doc", "is_target", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    target_value: str,
    *,
    n_buckets: int = 2048,
) -> DataFrame:
    """DSIR importance weights: score every document by how much more
    likely its hashed-n-gram bag is under the TARGET distribution
    (rows where ``target_col == target_value``, e.g. the trusted /
    in-domain slice) than under the raw-corpus distribution —
    log w(d) = Σ_b cnt_d[b] · (ln p̂_target[b] − ln p̂_corpus[b]),
    with add-1 smoothed bucket unigram models.  This is the data-
    selection score a pipeline resamples by to tilt a 100 TB crawl
    toward a quality domain (Xie et al. 2023).

    Entirely deterministic and engine-portable: md5 bucket hashing,
    IEEE double ``ln``, and the per-bucket contributions rounded to
    6 dp and summed as DECIMAL(18,6) so the final weight is
    order-independent across engines (the q_entropy discipline).

    Plan shape: one corpus scan → per-doc window (bigrams) →
    int-keyed hash-agg to (doc, bucket, cnt), localCheckpoint'd once
    for its two consumers; bucket stats are an ``n_buckets``-row
    aggregate and the λ table joins back as a broadcast — no second
    corpus scan, no string ever shuffles.
    """
    db = _hashed_term_buckets(
        df,
        text_col,
        id_col,
        (F.col(target_col) == target_value),
        n_buckets=n_buckets,
    ).localCheckpoint(eager=False)
    stats = db.groupBy("b").agg(
        F.sum("cnt").alias("cs"),
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("ct"),
    )
    tot = stats.agg(F.sum("cs").alias("ts"), F.sum("ct").alias("tt"))
    lam = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("tt") + F.lit(float(n_buckets))))
            - F.log((F.col("cs") + 1) / (F.col("ts") + F.lit(float(n_buckets))))
        ).alias("lam"),
    )
    return (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_terms"),
            F.sum(
                F.round(F.col("cnt") * F.col("lam"), 6).cast("decimal(18,6)")
            ).alias("__s"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_terms",
            F.round(F.col("__s").cast("double"), 6).alias("logw"),
        )
    )


def dsir_sample(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    target_value: str,
    *,
    k: int,
    n_buckets: int = 2048,
) -> DataFrame:
    """DSIR importance RESAMPLING — the applied twin of
    :func:`dsir_weights`: draw ``k`` documents without replacement
    with probability ∝ exp(log w) via the Gumbel-top-k trick, with
    the Gumbel noise a pure md5 function of the document id
    (u = (h₃₂ + 0.5) / 2³², g = −ln(−ln u), strictly inside (0, 1)
    so g is always finite).  Reproducible across runs, engines, and
    corpus growth — the same determinism contract as
    :func:`weighted_sample`, which uses the exponential-sort key for
    the same reason.

    Plan: the weights plan plus a scan-speed key expression and a
    TakeOrderedAndProject top-k — per-partition heaps, a single
    narrow collect of ``k`` rows, no full sort at any scale.
    """
    wts = dsir_weights(
        df, text_col, id_col, target_col, target_value, n_buckets=n_buckets
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (h + 0.5) / F.lit(float(1 << 32))
    key = F.round(F.col("logw") - F.log(-F.log(u)), 6)
    return (
        wts.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
        .select(id_col, "logw", "sample_key")
    )


def mix_temperature(
    df: DataFrame,
    text_col: str,
    source_col: str,
    *,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled mixture plan (the mT5/XLM-R α-sampling,
    Conneau et al. 2020; α = 0.3): per-source token counts, the
    natural share, the temperature share p_s ∝ share_s^α (flattens
    the mix toward uniform without inverting it — the knob between
    :func:`q_corpus_mix`'s natural and q_mix_rebalance's uniform),
    and the DOWNSAMPLE-ONLY rate that realizes it:
    rate_s = (p_s/share_s) / max_t(p_t/share_t) ≤ 1 — the most
    temperature-faithful mix reachable without upsampling, the
    scarcest-boosted source kept whole.

    Plan: one hash-agg to |sources| rows; totals and the max ratio
    ride broadcast 1-row aggregates — nothing beyond the token count
    ever shuffles.  Determinism: pow/ln are the same libm-1-ulp class
    the registry already rests on (q_lm_score's ln, quantize's pow).
    """
    from tmp_parquet_merge_spark.operators.dedup import words

    st = (
        df.select(F.col(source_col), F.size(words(text_col)).alias("tok"))
        .groupBy(source_col)
        .agg(F.sum("tok").alias("n_tokens"))
    )
    tot = st.agg(F.sum("n_tokens").alias("total"))
    shared = st.crossJoin(F.broadcast(tot)).select(
        F.col(source_col),
        F.col("n_tokens"),
        (F.col("n_tokens") / F.col("total")).alias("share"),
        F.pow(F.col("n_tokens") / F.col("total"), F.lit(alpha)).alias("pw"),
    )
    denom = shared.agg(
        # order-independent float-sum: each pw rounded to 12 dp and
        # summed as DECIMAL (the q_entropy discipline) — a plain
        # SUM(double) over sources folds in partition order and can
        # land a 1-ulp different total per engine
        F.sum(F.round(F.col("pw"), 12).cast("decimal(18,12)")).alias(
            "pw_total"
        ),
        # max over share^(alpha-1) = the boost the scarcest source
        # needs; dividing by it makes every rate <= 1 (max is
        # order-free)
        F.max(F.col("pw") / F.col("share")).alias("max_boost"),
    )
    return shared.crossJoin(F.broadcast(denom)).select(
        F.col(source_col),
        F.col("n_tokens"),
        F.round(F.col("share"), 6).alias("actual_share"),
        F.round(
            F.col("pw") / F.col("pw_total").cast("double"), 6
        ).alias("temp_share"),
        F.round(
            (F.col("pw") / F.col("share")) / F.col("max_boost"), 6
        ).alias("sample_rate"),
    )


def shard_balance(
    df: DataFrame, text_col: str, id_col: str, *, n_shards: int = 16
) -> DataFrame:
    """Balanced output-shard assignment by token count — the
    write-side layout step of a training-data pipeline: documents
    sorted by size descending are dealt round-robin across
    ``n_shards`` (the sorted-round-robin / LPT-style heuristic), so
    every shard lands within one max-document of the mean token load
    — no hot shard at write or at training-reader time.  Emits the
    per-shard manifest (shard, n_docs, n_tokens).

    Scale: a naive global ROW_NUMBER plans Exchange SinglePartition —
    the classic scale-killer — so the global descending rank uses the
    q_quantile_norm two-phase form: bucket rows by k-bounded
    approx-percentile cut points (tiny driver pulls), rank WITHIN
    each bucket via a partition-local window, add per-bucket offsets
    accumulated from the TOP bucket downward.  Ranks are exact for
    any cut choice because (tokens, id) is a unique total order; the
    final aggregate is ``n_shards`` rows.
    """
    from pyspark.sql import Window

    from tmp_parquet_merge_spark.operators.dedup import words

    # three actions consume (id, tok): the percentile pull, the
    # per-bucket counts, and the final aggregate — localCheckpoint so
    # the corpus is scanned and tokenized ONCE, not three times
    d = df.select(
        F.col(id_col), F.size(words(text_col)).cast("long").alias("tok")
    ).localCheckpoint(eager=False)
    n_buckets = 32
    cuts = d.agg(
        F.percentile_approx(
            "tok", [i / n_buckets for i in range(1, n_buckets)], 10_000
        ).alias("c")
    ).first()["c"]
    cuts = sorted(set(cuts or []))
    if cuts:
        bucket = F.aggregate(
            F.array(*[F.lit(c) for c in cuts]),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("tok") > c, 1).otherwise(0),
        )
    else:
        bucket = F.lit(0)
    b = d.withColumn("bucket", bucket)
    counts = {
        r["bucket"]: r["cnt"]
        for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # offsets from the LARGEST-token bucket down: global descending
    # rank = offset[bucket] + local rank within the bucket
    offsets, acc = {}, 0
    for k in sorted(counts, reverse=True):
        offsets[k] = acc
        acc += counts[k]
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("bucket"),
    )
    local = F.row_number().over(
        Window.partitionBy("bucket").orderBy(F.desc("tok"), F.asc(id_col))
    )
    assigned = b.select(
        F.col(id_col),
        F.col("tok"),
        ((off + local - 1) % n_shards).cast("int").alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
        )
    )


def ngram_decontaminate(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 10
) -> DataFrame:
    """GPT-3-style n-gram decontamination (Brown et al. 2020 run
    13-gram collision removal against every benchmark): flag every
    TRAIN-split document containing any word n-gram that also appears
    in the held-out TEST split — the grain that catches quoted eval
    questions embedded in otherwise-novel documents, which doc-level
    near-dup contamination checks (q_contamination) cannot see.
    Splits are the deterministic md5-nibble assignment
    (:func:`split_assign`), so the check is a pure function of the
    corpus.  Emits (doc_id, n_grams, n_overlap) for flagged train
    docs.

    Plan: ONE shingle pass (the shingle_rows codegen pipeline) with
    the split attached as a scan-speed md5-nibble expression,
    digest-keyed (sha2-256) and localCheckpoint'd for its three
    consumers — eval gram set, train grams, per-doc totals; the
    collision join shuffles 32-byte digests only, and its eval side
    is bounded by the eval split's gram count (in a real pipeline the
    benchmark suite — tiny; broadcast it explicitly there).  Nothing
    quadratic; document bodies never move.
    """
    from tmp_parquet_merge_spark.operators.dedup import shingle_rows

    nib = F.substring(F.md5(F.col("doc").cast("string")), 1, 1)
    split = (
        F.when(nib <= "c", "train").when(nib <= "e", "val").otherwise("test")
    )
    g = (
        shingle_rows(df, text_col, id_col, n=n)
        .select("doc", split.alias("split"), F.sha2("s", 256).alias("g"))
        .localCheckpoint(eager=False)
    )
    ev = g.filter(F.col("split") == "test").select("g").distinct()
    tr = g.filter(F.col("split") == "train")
    tot = tr.groupBy("doc").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tr.join(ev, "g")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(tot, "doc").select(
        F.col("doc").alias(id_col), "n_grams", "n_overlap"
    )


def doc_stitch_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    m: int = 3,
    max_df: int = 32,
) -> DataFrame:
    """Document-continuation stitch candidates: pairs (a, b) where
    doc a's last ``m`` normalized words equal doc b's first ``m`` —
    the signature of one logical document split across crawl records
    or shard boundaries (truncation mid-article), which re-assembly
    pipelines stitch back before training.  Emits (doc_a, doc_b,
    bridge) with the shared ``m``-word bridge phrase.

    Scale shape: one scan computes per-doc (head, tail) phrases; the
    candidate join is a single equi-join keyed on the phrase.  Bridge
    phrases opening or closing more than ``max_df`` documents are
    boilerplate (standard greetings, template footers), not split
    points — dropped before the join, which also caps the per-phrase
    pair fan-out at max_df² (the q_winnow_overlap stop-fingerprint
    discipline, deterministic and oracle-mirrored).  Docs shorter
    than 2m words are excluded: their head and tail would overlap and
    self-stitch trivially."""
    from tmp_parquet_merge_spark.operators.dedup import words

    ws = words(text_col)
    ht = df.select(
        F.col(id_col),
        F.array_join(F.slice(ws, 1, m), " ").alias("head"),
        F.array_join(F.slice(ws, -m, m), " ").alias("tail"),
    ).filter(F.size(ws) >= 2 * m).localCheckpoint(eager=False)
    tail_df = ht.groupBy("tail").agg(F.count(F.lit(1)).alias("tdf"))
    head_df = ht.groupBy("head").agg(F.count(F.lit(1)).alias("hdf"))
    tails = (
        ht.select(F.col(id_col).alias("doc_a"), F.col("tail").alias("bridge"))
        .join(
            tail_df.filter(F.col("tdf") <= max_df)
            .select(F.col("tail").alias("bridge")),
            "bridge",
        )
    )
    heads = (
        ht.select(F.col(id_col).alias("doc_b"), F.col("head").alias("bridge"))
        .join(
            head_df.filter(F.col("hdf") <= max_df)
            .select(F.col("head").alias("bridge")),
            "bridge",
        )
    )
    return (
        tails.join(heads, "bridge")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "bridge")
    )


def pad_waste(
    df: DataFrame,
    text_col: str,
    source_col: str,
    *,
    context_len: int = 64,
) -> DataFrame:
    """Padding-waste audit for training-sequence layout: per source,
    the token volume, the pad tokens burned if each document occupies
    its own ceil(n_tok/L) sequences (the naive one-doc-per-sequence
    loader), and the packed lower bound (q_pack_sequences' layout —
    ceil(total/L) sequences).  The gap between the two pad rates is
    the packing dividend, the number that justifies running the
    packer at all — on heterogeneous web corpora the naive loader
    burns 30-60% of FLOPs on pad (the observation behind every
    sequence-packing scheme since T5).

    Exact integer arithmetic end to end: ceil division is
    (n + L - 1) div L, rates are single divisions of BIGINT sums —
    engine-exact.  One scan, |sources|-row hash-agg; no shuffle
    beyond it."""
    from tmp_parquet_merge_spark.operators.dedup import words

    L = context_len
    per_doc = df.select(
        F.col(source_col).alias("source"),
        F.size(words(text_col)).cast("long").alias("n_tok"),
    ).select(
        "source",
        "n_tok",
        # ceil(n_tok / L) * L - n_tok, spelled in integer div
        (
            F.expr(f"(n_tok + {L - 1}) div {L}") * F.lit(L) - F.col("n_tok")
        ).alias("pad_naive"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("pad_naive").alias("pad_naive"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "pad_naive",
        F.round(
            F.col("pad_naive") / (F.col("total_tokens") + F.col("pad_naive")),
            6,
        ).alias("pad_rate_naive"),
        (
            F.expr(f"(total_tokens + {L - 1}) div {L}") * F.lit(L)
            - F.col("total_tokens")
        ).alias("pad_packed"),
        F.round(
            (
                F.expr(f"(total_tokens + {L - 1}) div {L}") * F.lit(L)
                - F.col("total_tokens")
            )
            / (
                F.expr(f"(total_tokens + {L - 1}) div {L}") * F.lit(L)
            ),
            6,
        ).alias("pad_rate_packed"),
    )


def span_mask_plan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    mask_ratio_pct: int = 15,
    span_len: int = 3,
) -> DataFrame:
    """T5-style span-corruption PLAN (Raffel et al. 2020 §3.1.4): for
    each document, the deterministic set of non-overlapping spans the
    denoising objective would mask — n_spans = floor(n_tok ·
    ratio / span_len) spans of ``span_len`` tokens, one per equal
    block of the document, jittered within its block by a pure
    md5(doc_id, span_index) function.  Emitting the PLAN (span starts,
    masked-token count, realized mask fraction) rather than mutated
    text keeps the output compact and engine-exact, and makes the
    draw reproducible across runs, engines, and corpus growth — the
    same determinism contract as q_split_assign / q_dsir_sample.

    All arithmetic is integer (block partition + md5-hash jitter mod
    the block slack); the starts column is a comma-joined string in
    span order so the driver hash never sees an array cell.  One scan,
    no shuffle.

    Parameter validation: with mask_ratio_pct ≤ 100 the
    block B = n_tok div n_spans satisfies B ≥ floor(100·span_len /
    mask_ratio_pct) ≥ span_len whenever n_spans > 0, so the jitter
    modulus B − span_len + 1 is always ≥ 1; ratios > 100 (or
    non-positive parameters) would drive it ≤ 0 and are rejected
    loudly here instead of yielding NULL starts.  The divisor inside
    the starts expression is additionally spelled
    ``greatest(n_spans, 1)`` so n_spans = 0 rows never divide by zero
    regardless of ANSI mode (the when-guard already blanks their
    output)."""
    from tmp_parquet_merge_spark.operators.dedup import words

    if span_len < 1:
        raise ValueError(f"span_len must be >= 1: got {span_len}")
    if not 1 <= mask_ratio_pct <= 100:
        raise ValueError(
            "mask_ratio_pct must be in [1, 100] (ratios above 100 imply "
            f"blocks smaller than span_len): got {mask_ratio_pct}"
        )
    n_tok = F.size(words(text_col)).cast("long")
    base = df.select(
        F.col(id_col),
        n_tok.alias("n_tok"),
        F.floor((n_tok * mask_ratio_pct) / F.lit(100 * span_len)).alias(
            "n_spans"
        ),
    )
    # block b (1-based) of n_spans equal blocks starts at
    # (b-1)*B + 1 with B = n_tok div n_spans; the span starts at
    # block_start + jitter, jitter = md5int(id, b) % (B - span_len + 1)
    starts = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.col("n_spans")),
            lambda b: (
                (b - 1) * F.expr("n_tok div greatest(n_spans, 1)")
                + 1
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "#",
                                F.col(id_col).cast("string"),
                                b.cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % (
                    F.expr("n_tok div greatest(n_spans, 1)")
                    - F.lit(span_len)
                    + 1
                )
            ).cast("string"),
        ),
        ",",
    )
    return base.select(
        F.col(id_col),
        "n_tok",
        "n_spans",
        (F.col("n_spans") * span_len).alias("n_masked"),
        F.round((F.col("n_spans") * span_len) / F.col("n_tok"), 6).alias(
            "mask_frac"
        ),
        F.when(F.col("n_spans") > 0, starts)
        .otherwise(F.lit(""))
        .alias("span_starts"),
    )


def quality_gate_matrix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """Per-source rule-level quality-gate violation matrix — the
    observability complement of q_curation_pipeline's single verdict:
    how often each Gopher-style rule fires per source, so a corpus
    owner sees WHICH gate is eating a source before retuning
    thresholds (Rae et al. 2021 Table A1 ships exactly this per-rule
    accounting).

    Rules are spelled in exact integer cross-multiplication so no
    float ratio is ever compared: mean word length outside [2, 12]
    ⇔ chars < 2·words or chars > 12·words; top-word share > 20%
    ⇔ 5·max_count > words.  One explode pass → per-doc hash-agg →
    |sources|-row rollup; vocabulary never leaves the doc grain."""
    from tmp_parquet_merge_spark.operators.dedup import words

    base = df.select(
        F.col(id_col).alias("doc"), F.col(source_col).alias("source")
    )
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.col(source_col).alias("source"),
        F.explode(words(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    per_word = tok.groupBy("doc", "source", "w").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.length("w")).alias("chars"),
    )
    per_doc_tok = per_word.groupBy("doc", "source").agg(
        F.sum("cnt").alias("n_words"),
        F.sum("chars").alias("n_chars"),
        F.max("cnt").alias("max_cnt"),
        F.sum(
            F.when(F.col("w").isin("the", "a", "of", "and", "to"), F.col("cnt"))
            .otherwise(0)
        ).alias("n_stop"),
    )
    # LEFT join back from the corpus so zero-word documents (empty or
    # whitespace-only — the WORST-quality inputs the too-short gate
    # exists for) stay in the matrix with n_words = 0 instead of
    # silently vanishing from the per-source accounting
    per_doc = base.join(per_doc_tok, ["doc", "source"], "left").select(
        "doc",
        "source",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.coalesce("max_cnt", F.lit(0)).alias("max_cnt"),
        F.coalesce("n_stop", F.lit(0)).alias("n_stop"),
    )
    flags = per_doc.select(
        "source",
        F.when(F.col("n_words") < 10, 1).otherwise(0).alias("v_too_short"),
        F.when(F.col("n_words") > 1000, 1).otherwise(0).alias("v_too_long"),
        F.when(
            (F.col("n_chars") < 2 * F.col("n_words"))
            | (F.col("n_chars") > 12 * F.col("n_words")),
            1,
        )
        .otherwise(0)
        .alias("v_word_len"),
        F.when(5 * F.col("max_cnt") > F.col("n_words"), 1)
        .otherwise(0)
        .alias("v_top_word"),
        F.when(F.col("n_stop") == 0, 1).otherwise(0).alias("v_no_stopword"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("v_too_short").alias("n_too_short"),
        F.sum("v_too_long").alias("n_too_long"),
        F.sum("v_word_len").alias("n_word_len"),
        F.sum("v_top_word").alias("n_top_word"),
        F.sum("v_no_stopword").alias("n_no_stopword"),
        F.sum(
            F.greatest(
                "v_too_short",
                "v_too_long",
                "v_word_len",
                "v_top_word",
                "v_no_stopword",
            )
        ).alias("n_any_violation"),
    )
