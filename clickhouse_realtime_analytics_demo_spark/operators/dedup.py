"""Deduplication operators for training-data pipelines.

Four families, all expressed as DataFrame pipelines (shuffle-conscious,
no Python in the row path):

- exact: hash-groupBy on a normalized fingerprint; keep min doc_id.
- MinHash + LSH: shingles → k minhashes → b bands → band-bucket join
  → candidate pairs → exact Jaccard verify. The scale path: candidate
  generation is a self-join on (band, band_hash) buckets, never all
  pairs.
- SimHash: 64-bit weighted-majority signature → banded hamming
  candidates.
- n-gram Jaccard: exact verification primitive (also usable alone at
  small scale).

Hash functions are Spark's xxhash64 (JVM, codegen) with per-permutation
seeds — deterministic across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ----------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-normalized dedup: one row per fingerprint with the
    kept (minimum) id and the duplicate count.

    Scale: single shuffle on the 128-bit fingerprint; group sizes are
    tiny (true duplicates), so no skew handling needed.
    """
    from clickhouse_realtime_analytics_demo_spark.operators.text import fingerprint

    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("copies"),
        )
    )


# ------------------------------------------------------------- shingling
#
# Shingle construction materializes the normalized token array (or the
# normalized string) into its own Project before the higher-order
# transform runs. This is load-bearing for performance: inside a
# lambda, Catalyst re-evaluates referenced subtrees per array element
# (no subexpression elimination across HigherOrderFunction bounds), so
# an inlined split(regexp_replace(lower(text))) makes shingling
# O(tokens^2) regex work per doc — measured 7x slower on sf0.1.
# CollapseProject declines to merge non-cheap expressions, so the extra
# select survives optimization as a genuine barrier.


def _shingle_expr(toks: Column, n: int) -> Column:
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def tokenized(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, toks[, keep...]) with normalized whitespace tokens as a
    materialized column (see the projection-barrier note above)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("id"), *[F.col(c) for c in keep], F.split(norm, " ").alias("toks")
    )


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sh[, keep...]): distinct word n-gram shingles per doc."""
    d = tokenized(docs, text_col, id_col, keep)
    return d.select("id", *keep, _shingle_expr(F.col("toks"), n).alias("sh"))


def char_ngram_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sh[, keep...]): distinct character n-grams of normalized text."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    d = docs.select(F.col(id_col).alias("id"), *[F.col(c) for c in keep], norm.alias("norm"))
    s = F.col("norm")
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - n + 1, F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, n)))
    return d.select("id", *keep, grams.alias("sh"))


# ---------------------------------------------------------- MinHash + LSH


def _seeded_hash(i: int):
    # single-arg closure: a 2-param lambda (`lambda x, i=i: ...`) would
    # be treated by pyspark as transform's (element, index) form and
    # the array INDEX would silently shadow the seed
    return lambda x: F.xxhash64(x, F.lit(i))


def minhash_signatures_from_sets(
    sh: DataFrame,
    num_hashes: int = 32,
    keep: tuple[str, ...] = (),
    materialized: bool = False,
) -> DataFrame:
    """k-permutation MinHash signatures over an EXISTING shingle frame
    ``(id, sh[, keep...])`` — word shingles, char n-grams, any distinct
    set column. ``keep`` columns ride along (they are functionally
    dependent on id).

    With ``materialized=True`` (the ``sh`` column is a checkpointed /
    persisted attribute, NOT an inline expression) the signature is
    computed map-side as ``array_min(transform(sh, x -> xxhash64(x,
    i)))`` per permutation — zero shuffle, measured 3.5x faster than
    the explode form at sf0.1 (0.46 -> 0.13 s warm), bit-identical
    output. It must NOT be used on an unmaterialized frame: the 32
    expressions each reference ``sh``, and CollapseProject would
    inline the whole shingle-build expression into every one.

    Default (explode) formulation: explode shingles to (id, shingle)
    rows, hash each shingle k ways map-side, take per-id MIN of each —
    partial aggregation handles the min before the single shuffle on
    id. (A nested-array per-row expression would be re-evaluated k
    times by projection collapse — measured 70× slower.)
    """
    # explode_outer, not explode: InferFiltersFromGenerate adds a
    # size(sh) > 0 filter under a plain explode, and its pushdown
    # inlines the full shingle expression (split included) into the
    # filter where it evaluates O(tokens^2) per row — measured 7x
    # slower. Shingle arrays are never empty, so outer is identical.
    if materialized:
        return sh.select(
            "id",
            *keep,
            *[
                F.array_min(F.transform(F.col("sh"), _seeded_hash(i))).alias(f"mh{i}")
                for i in range(num_hashes)
            ],
        )
    exploded = sh.select("id", *keep, F.explode_outer("sh").alias("shingle"))
    return exploded.groupBy("id", *keep).agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """k-permutation MinHash signatures over word-``shingle_n``-gram
    sets (see :func:`minhash_signatures_from_sets` for the plan shape)."""
    return minhash_signatures_from_sets(
        shingle_sets(docs, text_col, id_col, shingle_n), num_hashes
    )


def band_hash_expr(band: int, rows_per_band: int) -> Column:
    """Bucket hash of one LSH band over signature columns mh0..mhk-1.

    Shared by batch candidate generation and the streaming accepted-
    corpus index (streaming/dedup.py) — both must produce IDENTICAL
    band hashes or cross-corpus candidates are silently missed.
    """
    return F.xxhash64(
        F.concat_ws(
            ",",
            *[
                F.col(f"mh{band * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
    )


def band_array_expr(num_hashes: int, bands: int) -> Column:
    """All band bucket hashes as an array (index = band id) — the
    storable form of a doc's LSH signature."""
    rows_per_band = num_hashes // bands
    return F.array(*[band_hash_expr(b, rows_per_band) for b in range(bands)])


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash-LSH banding.

    Pipeline: shingle → signature (explode + min-agg) → per-band
    bucket hash → self-join on (band, band_hash) → distinct
    (id_a < id_b) pairs.

    Scale: the join key is the band bucket, so work is proportional to
    the number of colliding docs, not |docs|². Huge buckets (boiler-
    plate collisions) are the skew risk: AQE skew-join splits moderate
    cases, and ``max_bucket_size`` is the 100 TB safety valve — buckets
    larger than the cap are dropped before the self-join (a bucket of
    B docs contributes B² candidate pairs; boilerplate mega-buckets
    add quadratic work while true near-dup groups stay small). Docs
    dropped from one band still collide in their other b-1 bands, the
    standard MinHash-LSH cap trade-off.
    """
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n)
    return lsh_candidates_from_sigs(sigs, num_hashes, bands, max_bucket_size)


# Adaptive split_depth trigger (r11, VERDICT r10 #5): refine instead
# of drop when at least this share of bucket ENTRIES sits in over-cap
# buckets. The 40× probe put the interesting regimes far apart —
# 9.4% over-cap share at 40× (refinement recovered recall 92.3→95.5%
# at flat wall) vs 0.03% at sf0.1 (refinement pure overhead) — so any
# threshold in the percent range separates them.
SPLIT_SHARE_THRESHOLD = 0.02

# Observability for tests/probes: the last adaptive decision made by
# lsh_candidates_from_sigs ({"share": float, "depth": int}).
# Measured shingle expansion (corpusprep40 probe, SCALEPROBE.md):
# ~150 KB of zstd-compressed document text becomes a ~25 MB in-memory
# shingle/signature block once char-3-gram sets + 32 minhash columns
# attach. The spread target keeps localCheckpointed blocks in that
# spill-free band: 1x sf0.1 stays at the core floor, 40x lands ~150
# partitions (the hand-swept 160), 100x ~370 — the 4-per-1x rule the
# probes used, now derived from bytes instead of hand-set per rung.
SHINGLE_SPREAD_SOURCE_BYTES = 160 * 1024

last_adaptive: dict = {}

# Attach-stage sizing (r16, from the corpusprep100 probe's OOM): the
# verify-attach rows carry BOTH shingle arrays, so the stage's
# in-memory size follows the CANDIDATE PAIR count — which grows faster
# than corpus bytes (denser boilerplate buckets at bigger K) — not the
# source bytes the shingle spread tracks. Measured: k=40 → 8.1M pairs
# over 98 source-derived partitions = 171-225 MiB localCheckpoint
# blocks (within disk-spill reach); k=100 → 241 source-derived
# partitions, blocks past 400 MiB, and 32 concurrent checkpoint
# unrolls exhausted the 48 g driver heap (java.lang.OutOfMemoryError
# in MemoryStore.putIteratorAsValues). Bytes per attached pair
# calibrated from the k=40 blocks: ~20 GiB / 8.1M pairs ≈ 2.5 KiB.
# Target ~32 MiB blocks: bounded unroll memory (32 tasks × 32 MiB in
# flight) at any K, and the count comes from the already-checkpointed
# candidate frame — one cheap bounded job; small pair sets keep the
# caller's floor.
ATTACH_PAIR_BYTES = 2560
ATTACH_BLOCK_TARGET_BYTES = 32 * 1024 * 1024


def attach_partitions(n_pairs: int, floor: int, ceiling: int = 8192) -> int:
    """Pair-count-proportional partition count for the verify-attach
    spread: ``max(floor, n_pairs * 2.5 KiB / 32 MiB)``, clamped."""
    import math

    return max(
        floor,
        min(ceiling, math.ceil(n_pairs * ATTACH_PAIR_BYTES / ATTACH_BLOCK_TARGET_BYTES)),
    )


def lsh_candidates_from_sigs(
    sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
    block_col: str | None = None,
    split_depth: int | None = None,
) -> DataFrame:
    """Band → bucket self-join over an EXISTING signature frame
    (id, mh0..mhk-1[, block_col]). Split out so callers that need the
    signatures for something else too (the streaming near-dup index)
    compute them once.

    With ``block_col`` the bucket key becomes (band, band_hash, block):
    candidates never cross blocks — the LSH analog of a blocked
    self-join (e.g. per-source near-dup policies), and it tightens
    bucket sizes for free.

    ``split_depth`` (r10): the 40× SCALEPROBE measured the drop-valve
    costing 7.7% of TRUE pairs (92.3% recall) once boilerplate-heavy
    buckets breach the cap in every band a pair collides in. With
    ``split_depth=L > 0``, an over-cap bucket is REFINED instead of
    dropped: its bucket hash is extended with the band hash of another
    band's signature rows ((band + level) mod bands — independent
    hashes of the same doc), re-counted, and re-filtered, up to L
    levels; only buckets still over cap after L refinements are
    dropped. A true pair separated by the refiner keeps its other
    b−1 band chances, exactly like the drop valve — refinement only
    ever ADDS candidate pairs (capped ⊆ split ⊆ uncapped), and the
    exact-Jaccard verify downstream keeps false positives at zero.
    Cost: per level, one groupBy + one id-join sized by the OVER-CAP
    subset (at 40×: 288k of 6.1M entries), not the corpus. Level 0
    behavior is bit-identical to the original valve.

    ``split_depth=None`` (r11 default, VERDICT r10 #5) is ADAPTIVE:
    the bucket-size histogram the valve already computes decides —
    depth 1 when over-cap buckets hold more than
    ``SPLIT_SHARE_THRESHOLD`` (2%) of all bucket entries, else the
    bit-identical depth-0 path. The decision is one 1-row aggregate
    over the histogram at construction time (a Spark job — pass an
    explicit int from plan-only/zero-job contexts); the chosen depth
    and measured share land in ``last_adaptive``. Rationale: the knob
    only pays where over-cap mass is material (9.4% of entries at the
    40× probe point, recall 92.3→95.5% at flat wall) and is pure
    overhead where it isn't (0.03% at sf0.1) — and "how much mass is
    over cap" is exactly what the histogram says, so no human needs
    to re-derive the setting per corpus.
    """
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            band_hash_expr(b, rows_per_band).alias("band_hash"),
        )
        for b in range(bands)
    ]
    keys = ["band", "band_hash"] + ([block_col] if block_col else [])
    # explode_outer: the band array is always exactly ``bands`` long;
    # avoids the InferFiltersFromGenerate re-evaluation (see above).
    bucketed = sigs.select(
        "id",
        *([block_col] if block_col else []),
        F.explode_outer(F.array(*band_structs)).alias("bucket"),
    ).select("id", *([block_col] if block_col else []), "bucket.band", "bucket.band_hash")
    if max_bucket_size is not None:
        # shuffles on the same bucket key the join uses, so the
        # exchange is reused; only the count aggregate is extra.
        sizes = bucketed.groupBy(*keys).agg(F.count("*").alias("bucket_n"))
        if split_depth is None:
            # construction job: the over-cap share decides the plan
            row = sizes.agg(
                F.sum(
                    F.when(F.col("bucket_n") > max_bucket_size, F.col("bucket_n")).otherwise(
                        F.lit(0)
                    )
                ).alias("over"),
                F.sum("bucket_n").alias("total"),
            ).first()
            total = row["total"] or 0
            share = (row["over"] or 0) / total if total else 0.0
            split_depth = 1 if share > SPLIT_SHARE_THRESHOLD else 0
            last_adaptive.clear()
            last_adaptive.update({"share": round(share, 4), "depth": split_depth})
        sized = bucketed.join(sizes, keys)
        kept = sized.filter(F.col("bucket_n") <= max_bucket_size).drop("bucket_n")
        if split_depth > 0:
            blk = [block_col] if block_col else []
            mh = sigs.select("id", *[f"mh{i}" for i in range(num_hashes)])
            over = sized.filter(F.col("bucket_n") > max_bucket_size).drop("bucket_n")
            levels = [kept]
            for level in range(1, split_depth + 1):
                # refiner = the band hash of ANOTHER band's rows for
                # this doc — an independent draw from the same
                # signature; a bounded when-chain (bands is a literal).
                # Offset 1 + (level-1) % (bands-1), never a multiple of
                # `bands` (ADVICE r10): a raw `level % bands` offset is
                # 0 when level % bands == 0, making the refiner the
                # bucket's OWN band hash — a no-op level that silently
                # consumed one of the L depth levels at split_depth >=
                # bands. The adjusted offset cycles 1..bands-1, so the
                # refiner band always differs from the bucket's band.
                offset = 1 + (level - 1) % (bands - 1) if bands > 1 else 0
                refiner = F.when(
                    F.col("band") == 0, band_hash_expr(offset % bands, rows_per_band)
                )
                for b2 in range(1, bands):
                    refiner = refiner.when(
                        F.col("band") == b2,
                        band_hash_expr((b2 + offset) % bands, rows_per_band),
                    )
                refined = (
                    over.join(mh, "id")  # over-cap-subset-sized, AQE builds on it
                    .withColumn(
                        "band_hash",
                        # level in the hash: refined buckets can never
                        # alias a bucket from another level
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.lit(level),
                                F.col("band_hash").cast("string"),
                                refiner.cast("string"),
                            )
                        ),
                    )
                    .select("id", *blk, "band", "band_hash")
                )
                rsizes = refined.groupBy(*keys).agg(F.count("*").alias("bucket_n"))
                # pinned build side: both inputs are small, and without
                # the hint AQE broadcasts whichever stage finishes first,
                # so the candidate rows' order (and the shuffle bytes
                # downstream) changed from run to run
                rsized = refined.join(rsizes.hint("shuffle_hash"), keys)
                levels.append(
                    rsized.filter(F.col("bucket_n") <= max_bucket_size).drop("bucket_n")
                )
                over = rsized.filter(F.col("bucket_n") > max_bucket_size).drop("bucket_n")
            bucketed = levels[0]
            for extra in levels[1:]:
                bucketed = bucketed.unionByName(extra)
        else:
            bucketed = kept
    # Candidate emission stays a bucket SELF-JOIN + distinct, by r16
    # measurement (VERDICT r15 #2 proposed map-side pair generation —
    # groupBy(keys).collect_list(id) → sorted-array combinations →
    # explode — to drop the join's second pass; same-session ABBA over
    # identical checkpointed signatures, best-of-N, pair sets asserted
    # equal, REJECTED it): 1.103 → 1.414 s at sf0.1 (1×, broadcast
    # regime) and 6.81 → 16.36 s at 40× (98 spread partitions, 8.1M
    # candidate pairs). Same mechanism as the copurchased_parts r13
    # finding: collect_list's object hash aggregation plus per-bucket
    # nested-transform pair expansion costs far more than the columnar
    # join that stays in Tungsten end to end. The distinct() already
    # does map-side partial aggregation (HashAggregate below the
    # exchange), so there is no further "pre-dedup before the pair
    # shuffle" available — within a bucket pairs are unique by
    # construction; duplicates only exist ACROSS bands.
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cond = (F.col("a.id") < F.col("b.id"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_from_sizes(na: Column, nb: Column, inter_n: Column) -> Column:
    """Jaccard from integer set sizes: |A∩B| / (|A|+|B|−|A∩B|), one
    double division, 0.0 for two empty sets. The one home of the
    arithmetic — :func:`jaccard` and :func:`verify_candidates` (which
    ships only the sizes across its barrier) both evaluate it, so the
    two agree bit for bit."""
    inter = inter_n.cast("double")
    union = (na + nb).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact Jaccard similarity of two DISTINCT-element arrays (every
    producer in this module emits ``array_distinct`` output — the
    contract). |A∪B| is computed arithmetically as |A|+|B|−|A∩B|:
    bit-identical to ``array_union`` for distinct inputs and half the
    per-pair array work — the intersect is the only array traversal
    (measured on the corpus-prep pair stage: see
    ``ngram_jaccard_pairs``)."""
    return jaccard_from_sizes(
        F.size(shingles_a),
        F.size(shingles_b),
        F.size(F.array_intersect(shingles_a, shingles_b)),
    )


def verified_jaccard_pairs(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Attach shingle sets to candidate (id_a, id_b) pairs and keep
    those with exact Jaccard ≥ threshold — the verify stage shared by
    every LSH candidate generator.

    The candidate set is orders of magnitude smaller than |docs|, so
    AQE broadcasts it into both attach joins — no shuffle of the
    shingle side. (Deriving a semi-join prune from the candidate
    DataFrame would recompute LSH candidate generation twice —
    measured slower; at 100 TB, materialize candidates first.)
    """
    sh = sh.select("id", "sh")
    return (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verify_candidates(
    cands: DataFrame, sh: DataFrame, threshold: float, n_parts: int, eager: bool = True
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs ``cands`` (id_a, id_b)
    against the shingle sets ``sh`` (id, sh) — the barriered form every
    corpus-scale verify runs. Returns (id_a, id_b, jaccard) with
    jaccard ≥ threshold.

    - Each attach join is preceded by an explicit keyed spread sized
      from the measured pair count (:func:`attach_partitions`, floor
      ``n_parts``). The attach rows carry shingle ARRAYS that expand
      ~10x on deserialization, so AQE's byte-based coalescing of the
      joins' own exchanges (64 MB advisory) packs multi-GB of
      in-memory rows per task — the 100x corpus died with Java-heap
      OOM at 48 g, then with 400 MiB+ checkpoint blocks once buckets
      densified. A user-specified keyed repartition satisfies the
      join's required distribution and is never coalesced, so task
      memory follows the pair count, and the intersect never runs on
      a single AQE-squeezed task (the r6 lesson).
    - A size-ratio prefilter (J ≤ min/max, two integer compares)
      drops pairs before the per-pair intersect.
    - The shingle arrays are consumed IN the second attach stage: one
      Project evaluates |A∩B| per surviving pair, and only (ids, sizes,
      |A∩B|) — ~40 bytes/pair instead of both arrays' ~2.5 KiB — are
      checkpointed. The barrier is load-bearing: without it Catalyst
      folds the ``jaccard >= t`` filter into the attach join's
      condition, where the intersect is re-evaluated per expression
      reference (measured 11-15 s in-join vs ~1 s barriered at sf0.1).
      :func:`jaccard_from_sizes` finishes after it, the same
      arithmetic :func:`jaccard` runs.

    ``eager=False`` (plan-only callers) runs no job: no pair count
    (the spread is ``n_parts``) and no barrier; same rows.
    """
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.size("sh").alias("na"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.size("sh").alias("nb"))
    thr = F.lit(threshold)
    size_ok = (F.col("na") >= F.col("nb") * thr - F.lit(1e-9)) & (
        F.col("nb") >= F.col("na") * thr - F.lit(1e-9)
    )
    n_attach = attach_partitions(cands.count(), n_parts) if eager else n_parts
    slim = (
        cands.repartition(n_attach, "id_a")
        .join(a, "id_a")
        .repartition(n_attach, "id_b")
        .join(b, "id_b")
        .filter(size_ok)
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias("inter_n"),
        )
    )
    if eager:
        slim = slim.localCheckpoint(eager=True)
    jac = jaccard_from_sizes(F.col("na"), F.col("nb"), F.col("inter_n"))
    return slim.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= thr)


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard ≥ threshold.
    Returns (id_a, id_b, jaccard); plan notes in
    :func:`verified_jaccard_pairs`. ``max_bucket_size`` is the 100 TB
    boilerplate-bucket valve (see :func:`minhash_lsh_candidates`)."""
    cands = minhash_lsh_candidates(
        docs, text_col, id_col, num_hashes, bands, shingle_n, max_bucket_size
    )
    sh = shingle_sets(docs, text_col, id_col, shingle_n)
    return verified_jaccard_pairs(cands, sh, threshold)


def minhash_char_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    block_col: str | None = None,
    num_partitions: int | None = None,
    eager: bool = True,
    split_depth: int | None = None,
) -> DataFrame:
    """MinHash-LSH over CHAR-n-gram sets, verified with the exact
    char-n-gram Jaccard — the scale-shaped candidate generator for the
    SAME similarity measure :func:`ngram_jaccard_pairs` computes
    exactly (that function stays as the small-scale oracle twin).
    ``block_col`` (kept through signatures and bucket keys) confines
    candidates to one block, like the exact form's blocked join.

    Default bands=16 (r=2): per-band collision P = s², so a pair at
    the 0.6 threshold survives ≥1 of 16 bands with 1-(1-0.36)^16 ≈
    99.92% — chosen because near-dup corpora concentrate JUST ABOVE
    the threshold (measured on the test fixture: median pair J ≈
    0.62; recall vs the exact pairs is total at sf≤0.01 and 99.79%
    at sf0.1). b=8/r=4's 67% at s=0.6 is a word-shingle setting where
    true dups sit ≥ 0.8.

    Scale shape — no corpus-sized broadcast, no quadratic block work
    (the two defects of running :func:`ngram_jaccard_pairs` on a
    corpus), four CANDIDATE-bounded eager materializations instead
    (every one is linear in corpus or candidates, never quadratic):

    1. shingle sets ``localCheckpoint`` (linear, spill-backed): they
       feed the signature branch AND the verify attach — measured at
       sf0.1 warm: 5.4 s with the checkpoint vs 7.5 s re-scanning
       (VERDICT r7 #5's measure-don't-guess);
    2. candidate pairs ``localCheckpoint``: bounded by the
       ``max_bucket_size`` valve (a bucket of B docs emits ≤ B²
       pairs), and materializing them is what lets the verify prune
       below derive from them without recomputing LSH;
    3. the verify side: shingles SEMI-PRUNED to candidate ids (an
       AQE-sized join against the checkpointed pair ids — candidate-
       sized, never corpus-sized), explicitly ``repartition``-ed,
       then checkpointed once;
    4. the verify itself, :func:`verify_candidates`, one form at every
       scale: keyed spreads sized from the measured pair count before
       each attach join, the size-ratio prefilter, |A∩B| computed in
       the second attach stage, and only (ids, sizes, |A∩B|)
       checkpointed before :func:`jaccard_from_sizes` filters.
       Measured on ``corpus_prep_pipeline_lsh`` at sf0.1, 10 fresh
       processes: 33 jobs and 53.3 MB shuffle write on every run,
       against 33 or 34 jobs and 87.9-98.6 MB when both shingle arrays
       crossed the barrier, and ~1/3 less executor CPU.

    Rejected by measurement at sf0.1 (10 754 true pairs): a
    signature-agreement prefilter on candidates (est ≥ 0.4 dropped 21
    TRUE pairs — borderline-J pairs have noisy 32-hash estimates);
    hashing grams to int64 before intersect (slower end-to-end and
    worse candidate recall under the changed hash draw). The exact
    blocked form: 6.2 s on the same input vs 7.1 s best-of-3 for the
    full composed pipeline (bench r8, after the input-spread
    repartition and the map-side transform/array_min signatures cut
    it from 8.8) — parity at a scale where blocks are only ~200 docs
    and 130k of the ~450k possible in-block pairs are LSH candidates
    (char-trigram baseline similarity is high within a block); the
    win is that THIS formulation's cost is Σ bucket² (valve-capped)
    while the exact form's is Σ block² (unbounded, corpus-linear
    blocks).

    ``eager`` (default True) runs the checkpoint materializations
    at DataFrame-CONSTRUCTION time — merely building the plan executes
    Spark jobs and pins checkpoint RDDs for the session. Plan-only
    tooling (EXPLAIN walkers, plan snapshots) should pass
    ``eager=False``: NO barriers are inserted (a lazy
    ``localCheckpoint`` would not help — under AQE, each downstream
    checkpoint's ``toRdd`` finalizes the adaptive plan and submits the
    upstream shuffle stages anyway, measured 13 jobs at construction)
    and the signatures use the explode form, so construction runs zero
    jobs. Results are bit-identical; the barriered eager form is the
    one to EXECUTE (the perf notes above).
    """
    # Engine-owned data-proportional sizing (session.spread_partitions,
    # VERDICT r14 #1/#5): the shingle/signature blocks this spread
    # feeds are localCheckpointed, so their count must follow the
    # CORPUS bytes, not the session's core count — the 40x probe
    # previously hand-set shuffle_partitions = 4x corpus factor to
    # keep blocks in the spill-free ~25 MB band; this derives the same
    # count from the source file sizes (the core floor carries 1x).
    from clickhouse_realtime_analytics_demo_spark.session import spread_partitions

    n_parts = num_partitions or spread_partitions(
        docs, target_bytes=SHINGLE_SPREAD_SOURCE_BYTES
    )
    _barrier = (lambda df: df.localCheckpoint(eager=True)) if eager else (lambda df: df)
    keep = (block_col,) if block_col else ()
    # Spread the input BEFORE the gram build: a small parquet file (or
    # a filter's AQE-coalesced output) arrives as 1-few partitions, and
    # the per-doc array_distinct(ngrams) + the signature explode both
    # run on the INPUT partitioning — measured at sf0.1: 3.07 s
    # single-task vs 0.67 s over 32 (same lesson as the r6 probe-side
    # coalescing, this time at the scan).
    sh = _barrier(char_ngram_sets(
        docs.repartition(n_parts, id_col), text_col, id_col, shingle_n, keep=keep
    ))
    sigs = minhash_signatures_from_sets(
        sh, num_hashes, keep=keep, materialized=eager
    )
    # adaptive split_depth (None) runs a histogram job at construction;
    # eager=False promises ZERO construction jobs, so it resolves to
    # the bit-identical depth-0 valve there. When adaptive IS active,
    # barrier the signatures first: the decision's histogram pass and
    # (if depth > 0) the refinement's mh lookup would otherwise each
    # recompute the map-side signature transform from the shingle
    # checkpoint — measured ~1-2 s at sf0.1 (r11).
    if split_depth is None and not eager:
        split_depth = 0
    elif split_depth is None and max_bucket_size is not None:
        sigs = _barrier(sigs)
    cands = _barrier(lsh_candidates_from_sigs(
        sigs, num_hashes, bands, max_bucket_size, block_col, split_depth
    ))
    ids = (
        cands.select(F.col("id_a").alias("id"))
        .union(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    shc = _barrier(
        sh.join(ids, "id")  # semi-prune; AQE sizes the (candidate-id) build side
        .repartition(n_parts, "id")
    )
    return verify_candidates(cands, shc, threshold, n_parts, eager)


# --------------------------------------------------------------- SimHash


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """64-bit SimHash per doc: each output bit is the majority vote of
    that bit across the doc's shingle hashes.

    Explode → one xxhash64 per shingle → 64 ±1-vote sums per id
    (all partial-aggregated map-side; one shuffle on id) → assemble
    the signature from the vote signs. Majority ⇔ sum(±1) ≥ 0.
    """
    # explode_outer for the same InferFiltersFromGenerate reason as
    # minhash_signatures (shingle arrays are never empty).
    hashed = shingle_sets(docs, text_col, id_col, shingle_n).select(
        "id", F.explode_outer("sh").alias("shingle")
    ).select("id", F.xxhash64("shingle").alias("h"))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1).cast("bigint")) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"v{i}") >= 0, F.shiftleft(F.lit(1).cast("bigint"), i)
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return votes.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count xor)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def simhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: signatures, then block-banding (split
    the 64-bit signature into ``blocks`` 16-bit chunks; any pair within
    hamming ≤ blocks-1 must agree on ≥1 chunk — pigeonhole), exact
    hamming verify.

    Scale: the chunk-equality self-join is the candidate generator —
    same bucket-join shape as MinHash-LSH.
    """
    bits_per_block = 64 // blocks
    sigs = simhash_signatures(docs, text_col, id_col)
    mask = F.lit((1 << bits_per_block) - 1).cast("bigint")
    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright(F.col("sig"), i * bits_per_block)
                        .bitwiseAND(mask)
                        .alias("chunk"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", "c.block", "c.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------ n-gram Jaccard


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-document duplicated n-gram span detection — the
    exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-shaped from
    suffix arrays to Spark's native algebra: hash every n-token
    window, a window is DUPLICATED iff its hash occurs in ≥
    ``min_docs`` distinct documents.

    Returns ``(id[, keep...], n_windows, dup_windows)`` per document
    that has at least one window (docs shorter than ``n`` tokens are
    absent). All-integer outputs; the window key is
    ``md5(array_join(slice(toks, pos, n), ' '))`` — portable to a SQL
    twin bit-for-bit.

    Scale shape: one explode to (id, pos, hash) rows, one
    count-distinct-docs aggregate on the hash, one shuffle join back
    on the hash (uniform key — md5 — so no skew), one groupBy on the
    universal per-doc key. The duplicated-hash set is NOT broadcast:
    unlike the rarity op's Zipf-bounded head, duplicated content is
    unbounded in the worst case (a boilerplate-heavy corpus), so the
    join shuffles on the hash instead.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), *keep, F.split(norm, " ").alias("toks")
    )
    base = base.filter(F.size("toks") >= n)
    pos = F.explode_outer(  # sequence non-empty by the filter above
        F.sequence(F.lit(1), F.size("toks") - n + 1)
    ).alias("pos")
    wins = base.select("id", *keep, pos, "toks").select(
        "id",
        *keep,
        F.md5(F.array_join(F.slice(F.col("toks"), F.col("pos"), n), " ")).alias("h"),
    )
    hot = (
        wins.groupBy("h")
        .agg(F.countDistinct("id").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("h", F.lit(1).alias("_dup"))
    )
    return (
        wins.join(hot, "h", "left")
        .groupBy("id", *keep)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias(
                "dup_windows"
            ),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
    block_col: str | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Exact character-n-gram Jaccard over candidate pairs.

    With ``block_col`` (e.g. source or lang) the self-join is blocked
    per group — the honest small-scale baseline. At 100 TB this is the
    verify stage behind MinHash-LSH, never run all-pairs.

    ``max_block_size`` is the misuse valve mirroring the LSH path's
    ``max_bucket_size`` (VERDICT r7 #6): pair cost is quadratic PER
    BLOCK, and blocks grow linearly with the corpus, so any block
    above the cap is dropped from pair generation entirely — the same
    drop-don't-explode semantics as the bucket valve. Without
    ``block_col`` the whole input is one block, so a cap below the
    row count yields zero pairs: the all-pairs form refuses to run on
    corpus-sized input instead of melting. Callers that need those
    docs deduped should route them through
    :func:`minhash_char_dedup_pairs`.
    """
    keep = (block_col,) if block_col else ()
    sh = char_ngram_sets(docs, text_col, id_col, n, keep=keep).withColumn(
        "nsh", F.size("sh")
    )
    if block_col:
        sh = sh.withColumnRenamed(block_col, "block")
    if max_block_size is not None:
        if block_col:
            sizes = sh.groupBy("block").agg(F.count("*").alias("block_n"))
            sh = (
                sh.join(F.broadcast(sizes), "block")
                .filter(F.col("block_n") <= max_block_size)
                .drop("block_n")
            )
        else:
            total = sh.groupBy().agg(F.count("*").alias("block_n"))
            sh = (
                sh.join(F.broadcast(total))
                .filter(F.col("block_n") <= max_block_size)
                .drop("block_n")
            )
    # Spread the PROBE side explicitly: per-pair array-intersect cost
    # is ~1000x a normal row, but the bytes are tiny, so (a) the
    # parquet scan arrives as one split and (b) AQE's byte-based
    # coalescing squeezes any ENSURE_REQUIREMENTS exchange back to one
    # partition — measured 5000 docs = 122k pair evals in a SINGLE
    # task (79 s) vs 32 tasks (4 s). An explicit numPartitions
    # repartition is user-specified, which AQE never coalesces, and a
    # broadcast of the build side preserves it through the join.
    spark = docs.sparkSession
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 16)
    a = sh.repartition(n_parts, "id").alias("a")
    # Explicit broadcast of the build side (ADVICE r6): with block_col
    # the join is equi on block, and past the auto-broadcast threshold
    # Spark would re-shuffle both sides on block (sort-merge),
    # discarding the repartition above. Broadcast keeps the probe-side
    # spread. Size bound is fine by construction: this is the
    # small-scale baseline / LSH verify stage, never run on a corpus.
    b = F.broadcast(sh.alias("b"))
    # Size-ratio prefilter INSIDE the join condition: J ≤ min/max, so
    # a pair whose set sizes differ by more than the threshold ratio
    # can never pass — two integer compares short-circuit before the
    # per-pair array intersect (the expensive term). The 1e-9 slack
    # only ever ADMITS borderline pairs (which the exact filter below
    # then judges), never drops one — float-product safety, not a
    # semantic knob. On THIS synthetic corpus docs are near-uniform
    # length, so the local win is inside box noise (measured best-of-3
    # 3.5 vs 3.8 s, noise-dominated); the filter pays on real corpora
    # whose doc lengths spread — standard length filtering from the
    # set-similarity-join literature.
    na, nb = F.col("a.nsh"), F.col("b.nsh")
    cond = (
        (F.col("a.id") < F.col("b.id"))
        & (na >= nb * F.lit(threshold) - F.lit(1e-9))
        & (nb >= na * F.lit(threshold) - F.lit(1e-9))
    )
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
