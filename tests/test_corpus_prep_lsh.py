"""corpus_prep_pipeline_lsh (VERDICT r7 #1): the scale-shaped prep
composition must agree with the exact, oracle-green pipeline.

Pinning strategy for a rows-only query (xxhash64 MinHash has no DuckDB
twin): (a) END-TO-END output equality vs ``corpus_prep_pipeline`` —
which is itself value-checked against a fully independent DuckDB
recursive-CTE implementation — at sf0.001 and sf0.01, where LSH recall
at the 0.6 threshold is total; (b) survivor-SET equality through the
keep-one stage; (c) pair-set recall/precision vs the exact
``ngram_jaccard_pairs`` including the verified jaccard values
(both sides compute the same exact measure over the same sets, so the
values must be bit-identical, not approximately equal).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, SF_DIR_MID, count_jobs

from clickhouse_realtime_analytics_demo_spark.operators import dedup, graph
from clickhouse_realtime_analytics_demo_spark.queries import all_queries
from clickhouse_realtime_analytics_demo_spark.queries.graphops import _prep_filtered


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_MID])
def test_end_to_end_equality_vs_exact(spark, sf_dir):
    qs = all_queries()
    exact = [tuple(r) for r in qs["corpus_prep_pipeline"].fn(spark, sf_dir).collect()]
    lsh = [tuple(r) for r in qs["corpus_prep_pipeline_lsh"].fn(spark, sf_dir).collect()]
    assert lsh == exact  # both orderBy(lang): positional equality


def test_pair_set_identical_at_mid_sf(spark):
    _, blocked = _prep_filtered(spark, SF_DIR_MID)
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            blocked, threshold=0.6, n=3, block_col="blk"
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_char_dedup_pairs(
            blocked, threshold=0.6, bands=16, max_bucket_size=64, block_col="blk"
        ).collect()
    }
    # verify stage computes the same exact measure over the same sets:
    # no false positives ever; recall total on this fixture (b=16/r=2
    # gives ≥ 99.92% per pair at J=0.6, and the xxhash64 draw is fixed)
    assert lsh <= exact
    assert lsh == exact


def test_survivor_sets_equal_through_keep_one(spark):
    filtered, blocked = _prep_filtered(spark, SF_DIR_MID)
    exact_pairs = dedup.ngram_jaccard_pairs(blocked, threshold=0.6, n=3, block_col="blk")
    lsh_pairs = dedup.minhash_char_dedup_pairs(
        blocked, threshold=0.6, bands=16, max_bucket_size=64, block_col="blk"
    )
    kept_exact = {r.doc_id for r in graph.keep_one_per_cluster(filtered, exact_pairs).select("doc_id").collect()}
    kept_lsh = {r.doc_id for r in graph.keep_one_per_cluster(filtered, lsh_pairs).select("doc_id").collect()}
    assert kept_lsh == kept_exact


def test_attach_partitions_rule():
    """r16 (corpusprep100 probe OOM): the verify-attach spread follows
    the measured candidate-pair count — ~2.5 KiB of deserialized attach
    row per pair, ~32 MiB target blocks — with the caller's floor and
    the standard 8192 ceiling."""
    # small pair sets (1x corpora) keep the caller's floor
    assert dedup.attach_partitions(130_000, 32) == 32
    assert dedup.attach_partitions(0, 16) == 16
    # the probe's measured rungs: k=40's 8.1M pairs spread past the
    # source-derived 98; k=100-scale pair counts land in the thousands
    assert dedup.attach_partitions(8_100_000, 98) == 618
    assert 2000 <= dedup.attach_partitions(38_000_000, 241) <= 8192
    # ceiling clamps
    assert dedup.attach_partitions(10**12, 32) == 8192


def test_pairs_identical_under_attach_partitioning(spark):
    """The verify attach's spreads are partitioning only: a
    num_partitions above the session default (which also raises the
    pair-count spread's floor) must give the bit-identical pair set,
    jaccard values included."""
    _, blocked = _prep_filtered(spark, SF_DIR_MID)
    base = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_char_dedup_pairs(
            blocked, threshold=0.6, bands=16, max_bucket_size=64, block_col="blk"
        ).collect()
    }
    spread = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_char_dedup_pairs(
            blocked, threshold=0.6, bands=16, max_bucket_size=64,
            block_col="blk", num_partitions=64,
        ).collect()
    }
    assert spread == base


def test_job_count_is_the_same_on_every_run(spark):
    """Work counters are the regression signal, so the same input must
    run the same jobs every time: the verify attach has one form, with
    no adaptive (AQE) decision left to flip its job count."""
    _, blocked = _prep_filtered(spark, SF_DIR_MID)
    blocked.count()  # warm: read the input once before counting
    jobs = {
        count_jobs(
            spark,
            lambda: dedup.minhash_char_dedup_pairs(
                blocked, threshold=0.6, bands=16, max_bucket_size=64, block_col="blk"
            ).collect(),
        )[1]
        for _ in range(3)
    }
    assert len(jobs) == 1, jobs
