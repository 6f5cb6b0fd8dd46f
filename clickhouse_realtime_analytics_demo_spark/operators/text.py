"""Text analysis operators for training-data pipelines.

Language-ID (stopword heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + word-regex), and
document fingerprinting (normalized-text hash). Everything is built
from JVM-side expressions — no Python in the row path — so the
operators run inside whole-stage codegen and scale linearly with
partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the heuristic language ID.
# Ordered dict → deterministic argmax tie-breaking (first wins).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "und", "die", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "las", "que", "es"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty → empty array)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def word_chars(text: Column) -> Column:
    """Count of alphanumeric characters."""
    return F.length(F.regexp_replace(text, r"[^A-Za-z0-9]", "")).cast("bigint")


def punct_chars(text: Column) -> Column:
    """Count of non-alphanumeric, non-whitespace characters."""
    return F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")).cast("bigint")


def stopword_hits(text: Column, lang: str) -> Column:
    """How many tokens are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*words))).cast("bigint")


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, lang) for lang in STOPWORDS}


def predict_lang(text: Column) -> Column:
    """Argmax language by stopword hits; 'unknown' when all zero.

    Deterministic tie-break: language order in STOPWORDS (a CASE
    chain, first max wins) — identical in the SQL oracle.
    """
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    result = F.lit("unknown")
    # Build the CASE chain in reverse so earlier languages win ties.
    for lang in reversed(list(scores)):
        result = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(result)
    return result


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1 repetition filters, closed deterministic form):

    - ``distinct_token_ratio``: |distinct tokens| / |tokens| — low
      values mean heavy token-level repetition;
    - ``top_bigram_frac``: occurrences of the most frequent word
      bigram / total bigrams — high values mean boilerplate loops.

    Returns (id, n_toks, distinct_token_ratio, top_bigram_frac).

    Scale: bigram counting is explode → two keyed shuffles
    ((id, bigram) then id) with map-side partial aggregation; the
    per-doc ratio arithmetic is pure integer-derived doubles, so the
    DuckDB oracle matches bit-exactly.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # materialized token array — projection barrier, same rationale as
    # dedup.tokenized (lambda bodies re-evaluate referenced subtrees)
    d = docs.select(F.col(id_col).alias("id"), F.split(norm, " ").alias("t"))
    n = F.size("t")
    bigrams = F.when(
        n >= 2,
        F.expr("transform(sequence(1, size(t)-1), i -> concat(t[i-1], ' ', t[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select(
        "id",
        n.cast("bigint").alias("n_toks"),
        (F.size(F.array_distinct("t")).cast("double") / n.cast("double")).alias(
            "distinct_token_ratio"
        ),
        bigrams.alias("bgs"),
    )
    ex = base.select(
        "id", "n_toks", "distinct_token_ratio", F.explode_outer("bgs").alias("bg")
    )
    per_bg = ex.groupBy("id", "n_toks", "distinct_token_ratio", "bg").agg(
        F.count("*").alias("c")
    )
    return per_bg.groupBy("id", "n_toks", "distinct_token_ratio").agg(
        F.when(
            F.col("n_toks") >= 2,
            F.max("c").cast("double") / (F.col("n_toks") - 1).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac")
    )


def ngram_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 3,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination detection: corpus docs sharing ≥
    ``min_shared`` distinct word n-grams with any probe (eval-set)
    doc. The decontamination pass of GPT-3 §C / PaLM §9 (they use
    8-13-grams on natural text; pick ``n`` to make grams near-unique
    in YOUR corpus).

    Returns (corpus_id, probe_id, shared_ngrams).

    Scale: the probe side is an eval set — small by definition — so
    its exploded gram set BROADCASTS; the corpus side is a narrow
    explode + map-side hash join (no corpus shuffle), and only MATCHED
    rows reach the tiny groupBy. At 100 TB the corpus never shuffles.
    """
    from clickhouse_realtime_analytics_demo_spark.operators.dedup import shingle_sets

    c = shingle_sets(corpus, text_col, id_col, n).select(
        F.col("id").alias("corpus_id"), F.explode_outer("sh").alias("g")
    )
    p = shingle_sets(probes, text_col, id_col, n).select(
        F.col("id").alias("probe_id"), F.explode_outer("sh").alias("g")
    )
    return (
        c.join(F.broadcast(p), "g")
        .groupBy("corpus_id", "probe_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 3,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every corpus doc contaminated by the probe set (schema
    unchanged); the action form of :func:`ngram_contamination`."""
    hits = ngram_contamination(corpus, probes, n, min_shared, text_col, id_col)
    doomed = hits.select("corpus_id").distinct()
    return corpus.join(
        doomed, corpus[id_col] == doomed["corpus_id"], "left_anti"
    )


def quality_score(text: Column, n_chars: Column) -> Column:
    """Composite quality in [0,1]: length band + word-char ratio.

    Mirrors common pretraining heuristics (C4/Gopher-style length and
    symbol-ratio rules) with a deterministic closed form:
      0.5 * min(n_tokens/50, 1) + 0.5 * (word_chars / n_chars)
    """
    len_part = F.least(token_count(text).cast("double") / F.lit(50.0), F.lit(1.0))
    char_part = word_chars(text).cast("double") / F.greatest(
        n_chars.cast("double"), F.lit(1.0)
    )
    return (F.lit(0.5) * len_part + F.lit(0.5) * char_part).cast("double")


def rare_token_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc rare-token counts against the corpus vocabulary head —
    the integer-exact core of CCNet-style rarity/perplexity filtering
    (docs dominated by tokens the corpus has barely seen are OCR
    noise, boilerplate mangling, or wrong-language fragments).

    Returns ``(id[, keep...], n_tokens, n_rare)`` where a token is
    RARE iff its corpus frequency < ``min_count``. All-integer
    outputs, so a SQL oracle matches bit-exactly (no float-sum
    ordering anywhere; derived ratios divide two ints, which is
    IEEE-exact and portable).

    Scale shape — the vocabulary join done right: joining exploded
    tokens against full per-token counts is a big-big shuffle join
    skewed by stopwords. Instead join against the COMMON set (tokens
    with count ≥ min_count): by Zipf its size is bounded by
    total_tokens / min_count — broadcastable at any corpus size for
    reasonable thresholds — and rarity is the anti-hit. One explode,
    one map-side-combined count, one broadcast left join, one groupBy
    on the universal per-doc key. Docs with NULL/whitespace-only text
    are excluded (no zero-token division downstream).
    """
    base = docs.filter(
        F.col(text_col).isNotNull() & (token_count(F.col(text_col)) > 0)
    )
    # explode_outer: arrays are non-empty by the filter above; plain
    # explode would trigger InferFiltersFromGenerate's pushed-down
    # size(...)>0, re-inlining the tokenization per row
    toks = base.select(
        F.col(id_col).alias("id"),
        *keep,
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    common = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("token", F.lit(1).alias("_common"))
    )
    return (
        toks.join(F.broadcast(common), "token", "left")
        .groupBy("id", *keep)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_common").isNull(), 1).otherwise(0)).alias("n_rare"),
        )
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, whitespace collapsed, trimmed). The exact-dedup key."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)


# BPE-ish pre-tokenization classes: letter runs, digit runs, single
# non-alphanumeric marks — the GPT-2-style split shape without a merges
# table. Portable between Spark and DuckDB regex engines.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (see BPE_PATTERN). A closer proxy
    for LLM token budgets than whitespace counting: punctuation and
    number runs tokenize separately."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)).cast("bigint")


# ------------------------------------------------------------- PII scrub
#
# Training-data pipelines strip contact info before a corpus ships.
# Patterns deliberately avoid backslash escapes and lookaround so the
# SAME string runs identically on Spark (Java regex) and DuckDB (RE2)
# — `[.]` instead of `\.`, explicit `[0-9]` instead of `\d`. These are
# the standard conservative recall patterns (C4-style cleanup), not an
# NER system: real deployments layer a model-based pass on top; this
# operator is the cheap JVM-side first pass that handles the bulk.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # name -> (pattern, replacement token)
    "email": ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": ("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
    "phone": ("[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}", "<PHONE>"),
}


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (see PII_PATTERNS)."""
    pattern, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("bigint")


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its typed placeholder. Order
    matters: email before ipv4 (an email's domain can contain a
    dotted-digit host) before phone; the dict is ordered accordingly."""
    out = text
    for pattern, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, token)
    return out


def oracle_redact_pii(sql_expr: str) -> str:
    """DuckDB mirror of :func:`redact_pii` (global-flag regexp_replace
    chain, same pattern order)."""
    out = sql_expr
    for pattern, token in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every character k-gram of the normalized text,
    slide a window of ``w`` consecutive hashes, keep each window's
    minimum; the distinct kept hashes are the doc's fingerprints.

    Returns (id, fp) rows. Plan shape: pre-projected normalized text →
    positional k-gram explode (one narrow Generate) → per-doc window
    min (single shuffle on id — same key as every other per-doc op) →
    distinct. The hash is md5-hex, compared lexicographically, so a SQL
    oracle can reproduce the selection bit-for-bit; the classic 64-bit
    rolling hash is an O(1)-per-gram optimization the JVM regex path
    doesn't need at these gram sizes.
    """
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    d = docs.select(F.col(id_col).alias("id"), norm.alias("norm"))
    s = F.col("norm")
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - k + 1, F.lit(1)))
    grams = d.select(
        "id",
        F.length(s).alias("n_chars"),
        F.posexplode_outer(F.transform(idx, lambda i: F.substring(s, i, k))).alias("pos", "gram"),
    )
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    n_grams = F.greatest(F.col("n_chars") - k + 1, F.lit(1))
    return (
        grams.withColumn("win_min", F.min(F.md5("gram")).over(win))
        # windows start at 0..n_grams-w (short docs: the single
        # truncated window at 0 — frames shrink at partition end).
        .filter(F.col("pos") <= F.greatest(n_grams - w, F.lit(0)))
        .select("id", F.col("win_min").alias("fp"))
        .distinct()
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """BM25 relevance of each document to a bag of query terms — the
    classic ranked-retrieval scorer (Robertson/Spärck Jones), shaped
    for Spark:

    - per-doc term frequencies are narrow array ops over the token
      column (``size(filter(toks, x = term))`` per term — no explode,
      no shuffle);
    - the corpus statistics (N, avgdl, and one document frequency per
      query term) are ONE scalar aggregate row, collected to driver
      literals (bounded by |query|, the same bounded-collect pattern
      as the packing bounds) so the scoring pass is a single narrow
      projection;
    - idf uses the standard BM25 form ln(1 + (N - df + 0.5)/(df + 0.5)).

    Returns ``(id[, keep...], score)`` for docs matching ≥1 term.
    The score sums per-term contributions in the FIXED order of
    ``query_terms`` (a left-fold of doubles), so an oracle that sums
    in the same written order reproduces it bit-for-bit up to the
    ln() libm ulp — callers comparing across engines should round
    (the ann_cosine_topk precedent).
    """
    import math

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), *keep, F.split(norm, " ").alias("toks")
    )
    def _eq(term: str):
        # single-arg closure: a 2-param lambda (`lambda x, t=t`) is
        # pyspark's (element, index) form — the index shadows the term
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter("toks", _eq(t))).alias(f"_tf{i}")
        for i, t in enumerate(query_terms)
    ]
    scored_input = base.select("id", *keep, F.size("toks").alias("_dl"), *tf_cols)
    # construction job: corpus stats collect to driver literals
    stats = scored_input.agg(
        F.count("*").alias("n"),
        F.avg("_dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    ).collect()[0]
    n = int(stats["n"])
    if n == 0:
        # Empty filtered corpus: avgdl is NULL and would crash both the
        # float() conversion and the score's division — return an empty
        # frame with the output schema instead.
        return scored_input.select(
            "id", *keep, F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = float(stats["avgdl"])
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        df_t = int(stats[f"_df{i}"])
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        tf = F.col(f"_tf{i}").cast("double")
        score = score + F.lit(idf) * (
            tf
            * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl)))
        )
    matched = scored_input.filter(
        sum((F.col(f"_tf{i}") > 0).cast("int") for i in range(len(query_terms))) > 0
    )
    return matched.select("id", *keep, score.alias("score"))


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 500,
    stride: int = 400,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Split each document into fixed-size character windows with
    overlap (stride < chunk_size) — the standard context-window prep
    for training and retrieval corpora. Returns
    ``(id[, keep...], chunk_idx, chunk_start, chunk_text)`` where
    chunk k covers [k*stride, k*stride + chunk_size) 1-based, and the
    last chunk is the first one whose window reaches the end of the
    doc (every character lands in ≥1 chunk; no empty or dangling-tail
    chunks).

    Scale: a narrow explode over a per-doc ``sequence`` of offsets —
    output rows ∝ total characters / stride, computed where the doc
    partition lives; no shuffle, no UDF. Chunk texts come from
    ``substring`` on the already-loaded text column, so the scan cost
    is paid once. NULL/empty docs yield no chunks.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError(f"need 0 < stride <= chunk_size, got {stride}/{chunk_size}")
    n = F.length(F.col(text_col))
    # number of chunks: 1 + ceil(max(n - chunk_size, 0) / stride)
    extra = F.greatest(n - F.lit(chunk_size), F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra.cast("double") / F.lit(stride)).cast("int")
    base = docs.filter(F.col(text_col).isNotNull() & (n > 0)).select(
        F.col(id_col).alias("id"),
        *keep,
        F.col(text_col).alias("_t"),
        F.sequence(F.lit(0), n_chunks - 1).alias("_ks"),
    )
    # explode_outer: the sequence is non-empty by construction (the
    # InferFiltersFromGenerate re-evaluation hazard, as elsewhere)
    ch = base.select(
        "id", *keep, "_t", F.explode_outer("_ks").alias("chunk_idx")
    )
    start = F.col("chunk_idx") * F.lit(stride) + 1  # substring is 1-based
    return ch.select(
        "id",
        *keep,
        "chunk_idx",
        start.alias("chunk_start"),
        F.substring(F.col("_t"), start, F.lit(chunk_size)).alias("chunk_text"),
    )


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full feature set to a documents DataFrame."""
    t = F.col(text_col)
    return (
        docs.withColumn("n_tokens", token_count(t))
        .withColumn("word_chars", word_chars(t))
        .withColumn("punct_chars", punct_chars(t))
        .withColumn("predicted_lang", predict_lang(t))
        .withColumn("quality", quality_score(t, F.col("n_chars")))
        .withColumn("fingerprint", fingerprint(t))
    )


def bigram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_below: int = 10,
) -> DataFrame:
    """Character-bigram LM novelty signals — the integer-exact analog
    of a perplexity filter (gibberish / encoding-noise detection):
    train bigram counts on the corpus itself, then score each doc by
    how rare its bigrams are under that model.

    Deliberately integer-only where perplexity would use ``ln``:
    corpus counts, per-doc rare-bigram count (corpus count <
    ``rare_below``), and the doc's rarest-bigram count are exact
    BIGINTs, and the single closing division (rare rate) is one
    deterministic double op — so the result is bit-identical across
    engines and partition counts, where a sum of ``log()`` terms is
    ulp-hostage to libm. The ordering a perplexity filter needs is
    preserved (rare-mass ranks documents the same way).

    Scale shape: the model is a groupBy over a BOUNDED vocab (the
    normalized alphabet is ~37 symbols → ≤ ~1.4k bigrams), so the
    count table broadcasts at ANY corpus size — the same
    bounded-model-broadcast argument as rare_token_stats' COMMON set.
    Per-doc scoring is one explode + broadcast join + groupBy on
    doc_id (the shared per-doc key). Two document scans (model +
    probe); re-scan beats persist here (measured pattern, see
    queries/graphops.py).
    """
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
        "[^a-z0-9 ]",
        "_",
    )
    spark = docs.sparkSession
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 16)
    # Spread BEFORE the per-row-heavy sequence/substring build: small
    # parquet inputs arrive as one split, which would serialize the
    # explode (measured 3.07→0.67 s on the LSH shingle build, r8).
    d = docs.select(F.col(id_col).alias("id"), norm.alias("norm")).repartition(n_parts, "id")
    s = F.col("norm")
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - 1, F.lit(1)))
    grams = d.select(
        "id",
        F.explode_outer(F.transform(idx, lambda i: F.substring(s, i, 2))).alias("bg"),
    )
    # Collapse to per-(doc, bigram) counts FIRST: one explode scan
    # feeds both the model and the probe, and the broadcast join then
    # touches ≤ docs x distinct-bigrams rows (≤1.4k/doc) instead of
    # every bigram instance (~n_chars/doc) — measured 3.9→1.7 s at
    # sf0.1.
    per_doc = grams.groupBy("id", "bg").agg(F.count("*").alias("c"))
    model = per_doc.groupBy("bg").agg(F.sum("c").alias("cnt"))
    scored = per_doc.join(F.broadcast(model), "bg")
    return (
        scored.groupBy("id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.when(F.col("cnt") < rare_below, F.col("c")).otherwise(F.lit(0))).alias(
                "n_rare"
            ),
            F.min("cnt").alias("min_count"),
        )
        .withColumn(
            "rare_rate",
            F.round(F.col("n_rare").cast("double") / F.col("n_bigrams").cast("double"), 6),
        )
    )


def tfidf_topk(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Corpus-wide TF-IDF feature extraction: the k highest tf·ln(N/df)
    tokens per document, with deterministic tie-breaking (score desc,
    token asc) and the score rounded to 6 decimals BEFORE ranking so
    Spark and a SQL oracle rank identically.

    Complements bm25_scores (query-time scoring of a handful of terms)
    with the corpus-wide variant a training pipeline runs to build
    keyword features / topic hints per document.

    Scale shape: one explode + one map-side-combined (doc, token)
    count (tf); df derived FROM tf (vocabulary-sized, never a second
    corpus pass); a 1-row doc-count broadcast; tf⋈df equi-join on
    token (AQE broadcasts the vocabulary side when it fits, falls back
    to a shuffle join keyed on token otherwise — stopword skew is
    bounded because the df side has ONE row per token); and a per-doc
    top-k window that WindowGroupLimit prunes map-side before the
    final shuffle. All JVM expressions, no corpus-sized collect.
    """
    from pyspark.sql import Window

    base = docs.filter(
        F.col(text_col).isNotNull() & (token_count(F.col(text_col)) > 0)
    )
    # explode_outer: arrays are non-empty by the filter above; plain
    # explode would trigger InferFiltersFromGenerate's pushed-down
    # size(...)>0, re-inlining the tokenization per row
    toks = base.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = base.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))  # 1-row bound, by construction
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("tok_rank", F.row_number().over(w))
        .filter(F.col("tok_rank") <= k)
        .select(F.col("id").alias(id_col), "token", "tf", "df", "score", "tok_rank")
    )
