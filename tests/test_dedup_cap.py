"""MinHash-LSH bucket-size cap: mega-buckets are excluded from
candidate generation; small buckets are unaffected."""

from __future__ import annotations

from clickhouse_realtime_analytics_demo_spark.operators import dedup
from tests.conftest import count_jobs


def _docs(spark):
    # 6 identical boilerplate docs (one mega-bucket in every band) and
    # 2 near-identical real docs.
    boiler = [(i, "lorem ipsum dolor sit amet " * 10) for i in range(6)]
    real = [
        (100, "the quick brown fox jumps over the lazy dog near the river bank"),
        (101, "the quick brown fox jumps over the lazy dog near the river bend"),
    ]
    return spark.createDataFrame(boiler + real, "doc_id long, text string")


def test_cap_drops_megabucket_keeps_small(spark):
    docs = _docs(spark)
    uncapped = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(docs, max_bucket_size=4).collect()
    }
    # boilerplate pairs (6 docs -> 15 pairs) present uncapped, gone capped
    assert any(a < 100 and b < 100 for a, b in uncapped)
    assert not any(a < 100 and b < 100 for a, b in capped)
    # the small real bucket survives the cap
    assert (100, 101) in uncapped and (100, 101) in capped


def test_no_cap_is_default(spark):
    docs = _docs(spark)
    assert {(r.id_a, r.id_b) for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()} >= {
        (100, 101)
    }


def _blocked_docs(spark):
    # block "mega": 6 near-identical docs (quadratic blow-up bait);
    # block "ok": 2 near-identical docs.
    mega = [(i, "mega", "alpha beta gamma delta epsilon zeta " * 8 + f"tail{i}") for i in range(6)]
    ok = [
        (100, "ok", "the quick brown fox jumps over the lazy dog near the river bank"),
        (101, "ok", "the quick brown fox jumps over the lazy dog near the river bend"),
    ]
    return spark.createDataFrame(mega + ok, "doc_id long, blk string, text string")


def test_block_cap_drops_megablock_keeps_small(spark):
    docs = _blocked_docs(spark)
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, block_col="blk").collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, block_col="blk", max_block_size=4
        ).collect()
    }
    assert any(a < 100 and b < 100 for a, b in uncapped)
    assert not any(a < 100 and b < 100 for a, b in capped)  # mega block dropped
    assert (100, 101) in uncapped and (100, 101) in capped  # small block kept


def test_unblocked_cap_refuses_oversized_input(spark):
    docs = _blocked_docs(spark)
    # whole input is one block of 8 > cap 4: the all-pairs form refuses
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_block_size=4).count() == 0
    # cap >= input size: behaves exactly like no cap
    assert {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_block_size=8).collect()
    } == {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }


def test_lazy_checkpoint_knob(spark):
    # eager=False (ADVICE r8): plan CONSTRUCTION must not run Spark
    # jobs; results must match the eager form bit-for-bit.
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog") for i in range(12)],
        "doc_id bigint, text string",
    )
    lazy, jobs = count_jobs(
        spark, dedup.minhash_char_dedup_pairs, docs, threshold=0.5, eager=False
    )
    assert jobs == 0, "constructing the lazy plan ran Spark jobs"
    eager = dedup.minhash_char_dedup_pairs(docs, threshold=0.5)
    assert sorted(map(tuple, lazy.collect())) == sorted(map(tuple, eager.collect()))


# ---- split_depth (r10): refine over-cap buckets instead of dropping


def _sigs(spark, rows, num_hashes=8):
    cols = ", ".join([f"mh{i} long" for i in range(num_hashes)])
    return spark.createDataFrame(rows, f"id long, {cols}")


def _split_fixture(spark):
    """The geometry the 40× probe measured: pairs whose EVERY band
    bucket is over cap, but whose pairwise band-intersections are
    small. 80 insiders share band 0 (one mega bucket) and band 1 in
    groups of 4; 6 outsiders per group inflate each band-1 bucket to
    10. With cap 8 every colliding band is over cap → level-0 drops
    ALL insider pairs; refining band 0 by band 1's hash yields the
    groups of 4 → recovered. Bands 2/3 are unique per doc.
    """
    rows = []
    uid = 10_000
    for i in range(80):
        g = i // 4
        rows.append((i, 7777, 7777, 100 + g, 100 + g, uid, uid + 1, uid + 2, uid + 3))
        uid += 10
    for g in range(20):
        for j in range(6):
            o = 1000 + g * 10 + j
            rows.append((o, uid, uid + 1, 100 + g, 100 + g, uid + 2, uid + 3, uid + 4, uid + 5))
            uid += 10
    return _sigs(spark, rows)


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_split_recovers_intersection_pairs(spark):
    sigs = _split_fixture(spark)
    kw = dict(num_hashes=8, bands=4, block_col=None)
    capped = _pairs(
        dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=8, split_depth=0, **kw)
    )
    split1 = _pairs(
        dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=8, split_depth=1, **kw)
    )
    uncapped = _pairs(dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=None, **kw))
    # level 0 drops everything (every colliding band is over cap)
    assert capped == set()
    # refinement recovers exactly the within-group insider pairs:
    # 20 groups × C(4,2) = 120
    expect = {
        (a, b)
        for g in range(20)
        for a in range(4 * g, 4 * g + 4)
        for b in range(a + 1, 4 * g + 4)
    }
    assert split1 == expect
    # the containment contract: capped ⊆ split ⊆ uncapped
    assert capped <= split1 <= uncapped


def test_adaptive_picks_split_on_heavy_overcap(spark):
    # r11 (VERDICT r10 #5): split_depth=None derives the depth from the
    # bucket histogram the valve already computes. The split fixture's
    # over-cap entry share is ~100% >> the 2% threshold -> depth 1,
    # bit-identical to explicit split_depth=1.
    sigs = _split_fixture(spark)
    kw = dict(num_hashes=8, bands=4)
    auto = _pairs(dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=8, **kw))
    assert dedup.last_adaptive["depth"] == 1
    assert dedup.last_adaptive["share"] > dedup.SPLIT_SHARE_THRESHOLD
    explicit = _pairs(
        dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=8, split_depth=1, **kw)
    )
    assert auto == explicit


def test_adaptive_stays_zero_on_light_overcap(spark):
    # a corpus with NO over-cap buckets: the adaptive default must take
    # the bit-identical depth-0 path (refinement is pure overhead here)
    rows = [(i, i * 8, i * 8 + 1, i * 8 + 2, i * 8 + 3, i * 8 + 4, i * 8 + 5, i * 8 + 6, i * 8 + 7) for i in range(200)]
    rows[1] = (1,) + rows[0][1:]  # one small (2-doc) bucket survives
    sigs = _sigs(spark, rows)
    kw = dict(num_hashes=8, bands=4)
    auto = _pairs(dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=8, **kw))
    assert dedup.last_adaptive == {"share": 0.0, "depth": 0}
    explicit = _pairs(
        dedup.lsh_candidates_from_sigs(sigs, max_bucket_size=8, split_depth=0, **kw)
    )
    assert auto == explicit == {(0, 1)}


def test_split_keeps_true_megacluster_dropped(spark):
    # 20 IDENTICAL signatures: refinement cannot separate them (the
    # refiner hash is identical too) — the quadratic-work valve still
    # holds at any depth
    rows = [(i, 1, 1, 2, 2, 3, 3, 4, 4) for i in range(20)]
    sigs = _sigs(spark, rows)
    got = _pairs(
        dedup.lsh_candidates_from_sigs(
            sigs, num_hashes=8, bands=4, max_bucket_size=8, split_depth=3
        )
    )
    assert got == set()


def test_split_deterministic_across_partitions(spark):
    sigs = _split_fixture(spark)
    one = _pairs(
        dedup.lsh_candidates_from_sigs(
            sigs.repartition(1), num_hashes=8, bands=4, max_bucket_size=8, split_depth=2
        )
    )
    many = _pairs(
        dedup.lsh_candidates_from_sigs(
            sigs.repartition(13), num_hashes=8, bands=4, max_bucket_size=8, split_depth=2
        )
    )
    assert one == many
