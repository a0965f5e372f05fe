"""The MinHash-LSH and SimHash paths cross the Python↔JVM and
driver↔scheduler boundaries a constant number of times.

Signature lanes, band keys and SimHash votes are each one SQL
expression, so building them costs the same py4j round trips at any
lane count, and they stay bit-identical to the per-``Column`` spelling
this file carries as the reference.  The job pins hold each LSH query
(build + action) to its measured count at sf0.01.
"""

import os

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.operators import dedup
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.registry import t


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return t(spark, sf_dir, "documents")


def _reference_signatures(sh, num_perm):
    """The per-Column spelling: one ``F.min(F.hash(...))`` per lane."""
    h = sh.select("doc", F.xxhash64("s").alias("h"))
    return h.groupBy("doc").agg(
        *[F.min(F.hash("h", F.lit(i))).alias(f"h{i}") for i in range(num_perm)]
    ).select("doc", F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig"))


def _reference_bands(sigs, bands, rows):
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.slice(F.col("sig"), b * rows + 1, rows)).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc", F.explode(keys).alias("bk")).select(
        "doc", "bk.band", "bk.key"
    )


def _reference_simhash(df, text_col, id_col, bits=64):
    """The per-Column SimHash spelling: 4 md5 pieces, ``bits`` vote
    sums and a sum of signed bit values."""
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(dedup.words(text_col)).alias("w")
    ).select(
        "doc",
        *[
            F.conv(F.substring(F.md5("w"), 1 + 4 * i, 4), 16, 10)
            .cast("long")
            .alias(f"p{i}")
            for i in range(4)
        ],
    )
    votes = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(f"p{3 - b // 16}", b % 16).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )

    def bit_val(b):
        return -(1 << 63) if b == 63 else 1 << b

    sig = sum(
        (
            F.when(F.col(f"b{b}") > 0, F.lit(bit_val(b))).otherwise(0)
            for b in range(bits)
        ),
        F.lit(0),
    ).cast("long")
    return votes.select("doc", sig.alias("simhash"))


@pytest.mark.parametrize("num_perm,bands", [(64, 16), (128, 32)])
def test_signatures_and_band_keys_bit_identical(spark, docs, num_perm, bands):
    rows = num_perm // bands
    sh = dedup.shingle_rows(docs, "text", "doc_id", n=3)
    ref_sigs = _reference_signatures(sh, num_perm)
    want_sig = {r.doc: r.sig for r in ref_sigs.collect()}
    want_bands = _reference_bands(ref_sigs, bands, rows)
    for sets in (True, False):
        got = dedup._minhash_docs(sh, num_perm, sets=sets)
        assert {r.doc: r.sig for r in got.collect()} == want_sig
        banded = dedup._band_rows(got, bands, rows)
        assert banded.dtypes == want_bands.dtypes
        assert sorted(banded.collect()) == sorted(want_bands.collect())
    assert len(want_sig) > 10


def test_simhash_bit_identical_to_column_spelling(spark, docs):
    want = {
        r.doc: r.simhash
        for r in _reference_simhash(docs, "text", "doc_id").collect()
    }
    got = dedup.simhash(docs, "text", "doc_id")
    assert dict(got.dtypes)["simhash"] == "bigint"
    assert {r.doc: r.simhash for r in got.collect()} == want
    # both signs occur, so bit 63 (the sign bit) is exercised
    assert min(want.values()) < 0 < max(want.values())


def _py4j_commands(spark, fn):
    """Number of py4j commands the driver sends while ``fn`` runs, not
    counting proxy deletes: those free Java objects made earlier,
    whenever Python happens to release them."""
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command  # back to the class attribute
    return sent[0]


def test_lane_and_band_build_is_constant_in_py4j_commands(spark):
    """Building the signature lanes and the band keys issues the same
    number of py4j commands at 64 and 128 lanes: no per-lane Column."""
    sh = spark.createDataFrame(
        [(i, f"s{i % 7}") for i in range(40)], "doc long, s string"
    )

    def build(num_perm, bands):
        docs = dedup._minhash_docs(sh, num_perm, sets=True)
        dedup._band_rows(docs, bands, num_perm // bands)

    build(64, 16)  # warm any one-off lookups
    counts = {
        (p, b): _py4j_commands(spark, lambda: build(p, b))
        for p, b in ((64, 16), (128, 16), (128, 32))
    }
    assert len(set(counts.values())) == 1, counts


def _jobs(spark, group, fn):
    """(result, number of Spark jobs ``fn`` launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "query,max_jobs",
    [
        ("q_dedup_minhash", 6),
        ("q_dedup_cluster_lsh", 9),
        ("q_novelty_lsh", 15),
        ("q_dedup_containment_lsh", 11),
    ],
)
def test_lsh_query_job_pins(spark, sf_dir, query, max_jobs):
    """Jobs per query, build + action, at sf0.01.  The MinHash stage
    is one doc-keyed aggregate behind one checkpoint, and a small
    cluster graph is solved on the driver without per-round jobs."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    df, built = _jobs(
        spark, f"pin-{query}-build", lambda: REGISTRY[query].build(spark, sf)
    )
    _, ran = _jobs(spark, f"pin-{query}-action", df.collect)
    assert built + ran <= max_jobs, (built, ran)


def test_ann_lsh_job_pin(spark, sf_dir):
    """q_ann_lsh at sf0.01, build + action, once the embeddings'
    schema is cached as in every warm pass: the query pull, the
    sketch scan that also re-ranks, and the ranking stage."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    REGISTRY["q_ann_lsh"].build(spark, sf)
    df, built = _jobs(
        spark, "pin-q_ann_lsh-build", lambda: REGISTRY["q_ann_lsh"].build(spark, sf)
    )
    _, ran = _jobs(spark, "pin-q_ann_lsh-action", df.collect)
    assert built + ran <= 3, (built, ran)


@pytest.mark.parametrize("cores,probed", [(4, False), (32, True)])
def test_spread_scan_probes_splits_only_above_four_cores(
    spark, sf_dir, monkeypatch, cores, probed
):
    """With ``defaultParallelism <= 4`` one split already meets the
    more-than-4x gate, so ``spread_scan`` decides without planning the
    scan's RDD; above that it still probes, and fires on one split."""
    from pyspark import SparkContext

    scan = t(spark, sf_dir, "documents")
    calls = []
    rdd = type(scan).rdd
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: cores))
    monkeypatch.setattr(
        type(scan), "rdd", property(lambda df: calls.append(1) or rdd.__get__(df))
    )
    out = dedup.spread_scan(scan, "doc_id")
    assert bool(calls) == probed
    assert (out is scan) != probed
