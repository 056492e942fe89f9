"""[EXT] Text-analysis operators for LLM training-data pipelines
(SURVEY.md §2.10): tokenization, quality scoring, language-ID,
fingerprinting. All pure column expressions — codegen-side, no Python in
the hot path — so a 100 TB documents table streams through map tasks
with zero shuffle until an aggregation asks for one.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from incremental_github_data_pipeline_spark.operators.core import per_row_stage
from incremental_github_data_pipeline_spark.sources.local import local_rows_df

from incremental_github_data_pipeline_spark.functions.scalar import let_

# Tiny per-language stopword sets for the n-gram/stopword heuristic
# language identifier. Deliberately small: the operator's job is the
# *plumbing* (scoring N languages per row in one codegen pass); swap in
# bigger lexicons freely.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"],
    "es": ["el", "la", "los", "las", "que", "de", "y", "en", "un", "por"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Regex sub-word token count — a BPE-flavored proxy (word pieces,
    numbers, punctuation as separate tokens), good enough for length
    budgeting without a tokenizer model."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), F.lit(0))
    )


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}-]", ""))


def stopword_count(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or LANG_STOPWORDS["en"]
    return F.size(F.filter(tokens(col), lambda w: F.lower(w).isin(sw)))


def mean_token_len(col: Column | str) -> Column:
    """Average token length as exact int/int division (engine-portable)."""
    return let_(
        tokens(col),
        lambda t: F.when(
            F.size(t) > 0,
            F.aggregate(
                t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ).cast("double")
            / F.size(t),
        ),
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """The standard cheap quality signals (length / punctuation /
    stopword ratios) as named columns; combine downstream."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    return {
        "n_chars": char_count(c),
        "n_tokens": n_tok,
        "n_punct": punct_count(c),
        "n_stopwords": stopword_count(c),
        "mean_token_len": mean_token_len(c),
        "stopword_ratio": F.when(
            n_tok > 0, stopword_count(c).cast("double") / n_tok
        ).otherwise(F.lit(0.0)),
    }


def quality_ok(
    col: Column | str,
    min_tokens: int = 5,
    max_mean_token_len: float = 15.0,
    min_stopword_ratio: float = 0.0,
) -> Column:
    """Boolean keep/drop gate in the Gopher-rules style (length bounds,
    word-shape sanity, stopword floor)."""
    f = quality_features(col)
    return (
        (f["n_tokens"] >= min_tokens)
        & (f["mean_token_len"] <= max_mean_token_len)
        & (f["stopword_ratio"] >= min_stopword_ratio)
    )


def lang_scores(col: Column | str) -> Column:
    """Map language → stopword-hit count, one pass over the token array."""
    return let_(
        tokens(col),
        lambda t: F.map_from_arrays(
            F.array(*[F.lit(lang) for lang in LANG_STOPWORDS]),
            F.array(
                *[
                    F.size(
                        F.filter(t, (lambda s: lambda w: F.lower(w).isin(s))(sw))
                    )
                    for sw in LANG_STOPWORDS.values()
                ]
            ),
        ),
    )


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: CJK-character detection short-circuits to
    'zh'; otherwise argmax of per-language stopword hits, 'und' when no
    evidence. One codegen pass, no shuffle, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    has_cjk = c.rlike(r"[一-鿿]")

    # NB: single-arg lambdas only — F.filter binds a 2-arg lambda as
    # (element, index). Closure over sw is safe: F.filter invokes the
    # lambda eagerly inside this comprehension iteration.
    def pick(t: Column) -> Column:
        counts = {
            lang: F.size(F.filter(t, (lambda sw: lambda w: F.lower(w).isin(sw))(sw)))
            for lang, sw in LANG_STOPWORDS.items()
        }
        best = F.greatest(*counts.values())
        out = F.lit("und")
        # reverse order so earlier languages win ties deterministically
        for lang in reversed(list(counts)):
            out = F.when(counts[lang] == best, F.lit(lang)).otherwise(out)
        return F.when(best > 0, out).otherwise(F.lit("und"))

    return F.when(has_cjk, F.lit("zh")).otherwise(let_(tokens(c), pick))


def shingles(col: Column | str, k: int = 5) -> Column:
    """Token k-shingles as strings (the MinHash/Jaccard input unit).
    Documents shorter than k tokens yield their whole text as the single
    shingle, so short docs still dedup exactly."""
    return let_(
        tokens(col),
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.array_join(F.slice(t, i + 1, k), " "),
            ),
        ).otherwise(F.array(F.array_join(t, " "))),
    )


def fingerprint(col: Column | str, k: int = 5) -> Column:
    """Deterministic 64-bit document fingerprint: min xxhash64 over token
    k-shingles (rolling-hash winnowing, window = whole doc). Equal
    fingerprints ⇒ shared rarest shingle — a cheap near-dup prefilter."""
    return F.array_min(F.transform(shingles(col, k), lambda s: F.xxhash64(s)))


def ngrams(col: Column | str, n: int = 2) -> Column:
    """Token n-grams as strings; docs shorter than n yield an empty
    array (unlike :func:`shingles`, no whole-doc fallback — repetition
    ratios must not count a short doc as self-repeating)."""
    return let_(
        tokens(col),
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def dup_word_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 − distinct/total) — the cheapest Gopher-style repetition signal."""
    return let_(
        tokens(col),
        lambda t: F.when(
            F.size(t) > 0,
            F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / F.size(t),
        ).otherwise(F.lit(0.0)),
    )


def top_ngram_ratio(col: Column | str, n: int = 2) -> Column:
    """Fraction of all n-grams taken by the single most frequent n-gram
    (Gopher repetition rule: high ⇒ boilerplate/loops). Per-row bounded
    work (|distinct| × |grams| on one document), pure codegen — the
    100 TB corpus pays zero shuffle for this."""
    return let_(
        ngrams(col, n),
        lambda g: F.when(
            F.size(g) > 0,
            F.array_max(
                F.transform(
                    F.array_distinct(g),
                    lambda b: F.size(F.filter(g, lambda x: x == b)),
                )
            ).cast("double")
            / F.size(g),
        ).otherwise(F.lit(0.0)),
    )


def repetition_features(col: Column | str) -> dict[str, Column]:
    """The repetition family of quality signals as named columns."""
    return {
        "dup_word_ratio": dup_word_ratio(col),
        "top_bigram_ratio": top_ngram_ratio(col, 2),
    }


def contaminated_ids(
    df,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """Benchmark decontamination: ids of corpus docs sharing any token
    ``k``-gram with the benchmark set (the standard eval-leakage guard
    for training corpora).

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval sets are ~10⁵ docs), so its distinct gram set broadcasts and
    the corpus side never shuffles — grams explode in the scan stage,
    ``array_distinct`` caps the blow-up at one row per distinct gram
    per doc, and the semi-join is map-side. Only the final per-id
    ``distinct`` shuffles, and that is already filtered to hits.
    """
    corpus_grams = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, k))).alias("_sh")
    )
    bench_grams = (
        benchmark.select(F.explode(F.array_distinct(shingles(text_col, k))).alias("_sh"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "_sh", "left_semi")
        .select(id_col)
        .distinct()
    )


def top_terms(df, group_col: str, text_col: str = "text", n: int = 5):
    """Top-``n`` terms per group by frequency (ties broken by term) —
    the corpus-composition audit. Tokenize in the scan stage, one
    shuffle for the (group, term) count, window top-k on the already
    aggregated (small) side."""
    from pyspark.sql import Window

    counts = (
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(group_col, "term", "n", "rank")
    )


def vocab_stats(df, group_col: str, text_col: str = "text"):
    """Per-group vocabulary statistics: vocabulary size, hapax count
    (terms seen once — the Zipf-tail health check), total tokens. Two
    algebraic aggregations on the same (group, term) key ⇒ the second
    needs no extra shuffle."""
    term_counts = (
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return term_counts.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax_count"),
        F.sum("n").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Training-data prep: chunking, redaction, splits
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    # deliberately lookaround-free so Java (Spark) and RE2 (DuckDB/
    # other engines) agree on matches
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 128,
    step: int = 96,
):
    """Split documents into token-window chunks (size ``chunk_size``,
    stride ``step`` ⇒ overlap = size − step) — the standard prep for
    embedding/training pipelines. One row per (doc, chunk_idx); short
    and empty docs yield exactly one chunk (empty text ⇒ one chunk of
    0 tokens, so no document silently disappears from the chunked
    corpus). A chunk is emitted only when it extends token coverage:
    the chunk count is 1 + ceil((n_tokens − chunk_size)/step), never
    ceil(n_tokens/step) — the latter emits a final chunk strictly
    contained in the previous one whenever n_tokens lands in the
    overlap zone (e.g. 13–16 tokens at size 16 / step 12), duplicating
    training text. Pure column expressions: tokenize once (let_),
    explode chunk starts, slice+join per chunk — no UDF, no shuffle; a
    100 TB corpus chunks in the scan stage."""
    from pyspark.sql import functions as F

    if step <= 0 or chunk_size < step:
        raise ValueError("need 0 < step <= chunk_size")
    toks = tokens(F.col(text_col))
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((F.size(toks) - F.lit(chunk_size)) / F.lit(step)).cast("int"),
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_idx") * step + 1, chunk_size
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("chunk_tokens"),
    )


def redact(col, patterns: dict[str, str] | None = None, token: str = "[REDACTED]"):
    """Replace every PII pattern occurrence with ``token`` — one chained
    regexp_replace expression, JVM-side."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    for pat in (patterns or PII_PATTERNS).values():
        c = F.regexp_replace(c, pat, token)
    return c


def redact_typed(
    col,
    patterns: dict[str, str] | None = None,
    token_fmt: str = "<{name}>",
):
    """Replace each PII pattern's occurrences with a TYPED placeholder
    (``<EMAIL>``/``<URL>``/``<PHONE>`` by default) — the redaction a
    training corpus actually ships with, where downstream models must
    still see THAT something was removed and what kind (r12; the
    untyped :func:`redact` collapses everything to one token and loses
    the distinction). Lanes apply in ``patterns`` order (email before
    url before phone — the order that keeps an address inside a URL
    from being double-eaten); each lane is one ``regexp_replace``,
    codegen-side, so a 100 TB corpus redacts in the scan stage."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    for name, pat in (patterns or PII_PATTERNS).items():
        c = F.regexp_replace(c, pat, token_fmt.format(name=name.upper()))
    return c


def redaction_counts(col, patterns: dict[str, str] | None = None) -> dict:
    """Per-pattern match counts (regexp_count) for redaction audits."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return {
        name: F.regexp_count(c, F.lit(pat))
        for name, pat in (patterns or PII_PATTERNS).items()
    }


def _id_bucket(c, buckets: int):
    """Non-negative deterministic bucket for an id of ANY type.

    Integral ids bucket by value (``pmod``) so results agree with plain
    SQL ``id % buckets``; non-integral ids — notably the engine's own
    uuid5 *string* primary keys — are hashed first. A bare ``pmod`` on a
    string would cast to NULL (non-ANSI) and silently send every row to
    one split, or throw under ANSI mode; ``try_cast`` never throws and
    falls back to ``xxhash64`` exactly when the value is not numeric.
    """
    from pyspark.sql import functions as F

    n = c.try_cast("long")
    return F.pmod(F.coalesce(n, F.xxhash64(c)), F.lit(buckets))


def assign_split(
    id_col, train_pct: int = 80, val_pct: int = 10, buckets: int = 100
):
    """Deterministic train/val/test assignment from the id — stable
    across runs and engines (pure modular arithmetic, no RNG, no
    sampling drift when the corpus grows). String ids (uuid5 keys) are
    hashed before bucketing; see :func:`_id_bucket`."""
    from pyspark.sql import functions as F

    c = F.col(id_col) if isinstance(id_col, str) else id_col
    b = _id_bucket(c, buckets)
    return (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )


def sample_stratified(
    df,
    id_col: str,
    fractions_pct: dict[str, int] | int,
    strata_col: str | None = None,
    buckets: int = 100,
):
    """Deterministic stratified sample: keep N% of each stratum by
    modular arithmetic on the id — no RNG, so membership is stable
    across runs and engines, and the sample grows monotonically with
    the corpus (new rows never evict old members, unlike ``df.sample``
    whose membership depends on partitioning and seed plumbing).
    ``fractions_pct`` is either one percentage for all rows or a
    per-stratum map (e.g. downsample the dominant language). Pure
    filter ⇒ pushes down to the scan; zero shuffle. String ids (uuid5
    keys) are hashed before bucketing; see :func:`_id_bucket`."""
    b = _id_bucket(F.col(id_col), buckets)
    if isinstance(fractions_pct, int):
        return df.filter(b < fractions_pct)
    if strata_col is None:
        raise ValueError("per-stratum fractions need strata_col")
    cut = F.lit(0)
    for stratum, pct in fractions_pct.items():
        cut = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(cut)
    return df.filter(b < cut)


# ---------------------------------------------------------------------------
# Corpus-derived bigram language-model quality scoring (CCNet/KenLM-style
# perplexity filtering, reduced to what a 100 TB pipeline actually needs:
# a cheap statistical LM trained on a reference corpus, scored per doc)
# ---------------------------------------------------------------------------


def bigram_lm(df, text_col: str = "text"):
    """Train the bigram LM: corpus-wide bigram and unigram counts, plus
    the vocabulary size (for add-one smoothing). One explode + groupBy
    shuffle per table; both outputs are heavy-tailed count tables that
    are tiny relative to the corpus (bounded by vocabulary, not rows),
    so downstream joins typically auto-broadcast — and when the vocab is
    genuinely huge, AQE falls back to a shuffle join on the bigram key,
    which is still candidate-list-sized, never corpus × corpus.

    Returns ``(bigram_counts, unigram_counts, vocab_size)`` where the
    frames have columns ``(bigram, bigram_count)`` / ``(token,
    token_count)``.
    """
    big = (
        df.select(F.explode(ngrams(text_col, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
    )
    uni = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        # materialized once: the vocab_size scalar and the scoring join
        # both consume this vocabulary-bounded table, and without
        # truncation each would re-run the corpus-wide token explode
        .localCheckpoint(eager=True)
    )
    vocab_size = uni.count()
    return big, uni, vocab_size


def lm_score(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    bigram_counts=None,
    unigram_counts=None,
    vocab_size: int | None = None,
):
    """Score each document under a bigram LM with add-one smoothing:
    ``avg over doc bigrams (w1 w2) of ln((c(w1 w2) + 1) / (c(w1) + V))``.
    Pass the three LM artifacts from :func:`bigram_lm` to score against
    a reference corpus (the quality-filter deployment shape); omit them
    to self-score (each doc against the statistics of its own corpus).

    Output per doc: ``n_bigrams``, ``freq_sum`` (exact integer sum of
    corpus bigram counts — the engine-portable lane an external oracle
    can recompute bit-for-bit), and ``avg_logprob`` (the float LM lane
    used for threshold filtering). Docs with fewer than two tokens keep
    a row with ``n_bigrams = 0`` and null ``avg_logprob``.

    Scale shape: per-doc bigram explode → join on the bigram key →
    groupBy doc. The LM tables are vocabulary-bounded (broadcastable in
    practice); the corpus side shuffles once on the bigram key and once
    on the doc id.
    """
    if bigram_counts is None or unigram_counts is None or vocab_size is None:
        bigram_counts, unigram_counts, vocab_size = bigram_lm(df, text_col)
    doc_bigrams = df.select(
        F.col(id_col), F.explode_outer(ngrams(text_col, 2)).alias("bigram")
    ).withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
    scored = (
        doc_bigrams.join(bigram_counts, "bigram", "left")
        .join(
            unigram_counts.withColumnRenamed("token", "w1"), "w1", "left"
        )
        .select(
            id_col,
            "bigram",
            F.coalesce("bigram_count", F.lit(0)).alias("_bc"),
            F.coalesce("token_count", F.lit(0)).alias("_uc"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("bigram").alias("n_bigrams"),
            F.sum(F.when(F.col("bigram").isNotNull(), F.col("_bc"))).alias(
                "_fsum"
            ),
            F.avg(
                F.when(
                    F.col("bigram").isNotNull(),
                    F.log((F.col("_bc") + 1) / (F.col("_uc") + F.lit(vocab_size))),
                )
            ).alias("avg_logprob"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.coalesce("_fsum", F.lit(0)).alias("freq_sum"),
            "avg_logprob",
        )
    )


# ---------------------------------------------------------------------------
# Source mixture sampling + sequence packing (the two ops between "clean
# corpus" and "training batches" in a pretraining data pipeline)
# ---------------------------------------------------------------------------


def mixture_cutoffs(
    df, weights: dict[str, int], strata_col: str = "source", buckets: int = 100
) -> dict[str, int]:
    """Turn a target mixture (integer parts per stratum, e.g.
    ``{"web": 50, "code": 30, "books": 20}`` summing to 100) into
    per-stratum keep cutoffs for :func:`sample_stratified`, honoring
    availability: the realized total is the largest T with
    ``T * p_s / 100 <= n_s`` for every stratum, i.e. the scarcest
    stratum is kept whole and the rest are downsampled to match.

    All arithmetic is integer (floor division), so an external SQL
    engine derives the identical cutoffs from the same counts. The
    per-stratum count collect is bounded by the number of strata (a
    handful of sources), not corpus size.
    """
    counts = {
        r[0]: r[1] for r in df.groupBy(strata_col).count().collect()
    }
    active = {s: p for s, p in weights.items() if p > 0 and s in counts}
    if not active:
        return {}
    total = min(counts[s] * 100 // p for s, p in active.items())
    return {
        s: min(buckets, (total * p // 100) * buckets // counts[s])
        for s, p in active.items()
    }


def mix_sources(
    df,
    weights: dict[str, int],
    id_col: str = "doc_id",
    strata_col: str = "source",
    buckets: int = 100,
):
    """Deterministic source-mixture sampling: downsample each stratum so
    the kept corpus approximates the target mixture ``weights``, with
    the scarcest stratum kept in full. Strata absent from ``weights``
    are dropped. Pure pushed-down filter (no shuffle, no RNG) — the
    same membership-stability contract as :func:`sample_stratified`."""
    cut = mixture_cutoffs(df, weights, strata_col=strata_col, buckets=buckets)
    if not cut:
        return df.filter(F.lit(False))
    return sample_stratified(
        df,
        id_col=id_col,
        fractions_pct=cut,
        strata_col=strata_col,
        buckets=buckets,
    )


def pack_sequences(
    df,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    shards: int = 1,
):
    """Sequence packing: assign every document a training-sequence id so
    each sequence's token total reaches the ``budget`` (the last doc in
    a sequence may overflow it — doc-granular packing, no splitting).
    ``seq_id = cum_tokens_before DIV budget`` over docs ordered by id
    within ``(group, shard)`` — deterministic, no RNG, reproducible
    across engines (integer arithmetic only).

    Scale shape: packing is inherently sequential, so a naive global
    window would serialize the corpus through one partition. ``shards``
    bounds that: docs are bucketed by ``id % shards`` and packed
    independently per (group, shard), so parallelism is
    |groups| * shards and each window partition holds ~1/shards of a
    group. Sequences never cross shards (each training sequence is
    built from one shard's docs), which costs at most one underfull
    sequence per shard — negligible against millions of sequences.
    """
    shard = _id_bucket(F.col(id_col), shards)
    w = (
        Window.partitionBy(group_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select(
            group_col,
            F.col(id_col),
            shard.alias("shard"),
            token_count(text_col).alias("n_tokens"),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("seq_id", F.expr(f"cum_before DIV {int(budget)}"))
        .drop("cum_before")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicate-span removal (C4-style boilerplate excision)
# ---------------------------------------------------------------------------


def remove_duplicate_spans(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
):
    """Excise every token covered by a k-gram span that occurs in at
    least ``min_docs`` distinct documents — the C4/web-corpus
    boilerplate-removal shape (C4 dropped repeated three-sentence spans;
    here the unit is a token k-gram so the operator works on corpora
    without sentence structure). No counterpart in the reference
    pipeline ([EXT], SURVEY.md §2.10).

    Returns one row per input document: ``(id, clean_text, n_tokens,
    n_removed)`` where ``clean_text`` is the surviving tokens rejoined
    in original order (empty string when the whole doc is boilerplate).

    Scale shape (the 100 TB question): k-grams explode map-side; the
    document-frequency aggregation shuffles once on the gram key with
    partial aggregation; the frequent-gram table after the ``>=
    min_docs`` filter is a tiny fraction of the gram space, so the
    gram-matching join auto-broadcasts (AQE falls back to a shuffle
    hash join on the gram key when it is genuinely large). Covered
    positions and the final reassembly shuffle on (id, pos) / id —
    never doc x doc, never corpus x gram-space.
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    grams = toks.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("_toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(F.col("_toks"), i + 1, k),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gpos", "gram"),
    )
    frequent = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(frequent, "gram")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    positions = toks.select(
        id_col, F.posexplode("_toks").alias("pos", "tok")
    )
    kept = (
        positions.join(covered, [id_col, "pos"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("_n_kept"),
        )
    )
    return (
        df.select(F.col(id_col), token_count(text_col).alias("n_tokens"))
        .join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (hashed-free exact-gram variant)
# ---------------------------------------------------------------------------


def dsir_counts(df, text_col: str = "text", target_filter=None):
    """Unigram count tables for importance weighting: the raw corpus and
    a target domain selected by ``target_filter`` (a boolean Column).
    Returns a 4-tuple ``(counts, raw_total, target_total, vocab_size)``
    where ``counts`` is ONE combined vocabulary-bounded frame with
    columns ``(token, raw_count, target_count)`` (tiny vs the corpus)
    and the totals are plain ints. One explode + one shuffle."""
    exploded = df.select(
        F.explode(tokens(text_col)).alias("token"),
        (
            target_filter
            if target_filter is not None
            else F.lit(False)
        ).alias("_in_target"),
    )
    counts = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("raw_count"),
        F.sum(F.when(F.col("_in_target"), 1).otherwise(0)).alias(
            "target_count"
        ),
    )
    # materialize the vocabulary-bounded table once: the totals scalar
    # below and the scoring join both consume it, and without
    # truncation each would re-run the corpus-wide token explode
    counts = counts.localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("raw_count").alias("_rt"),
        F.sum("target_count").alias("_tt"),
        F.count(F.lit(1)).alias("_v"),
    ).first()
    return counts, int(totals["_rt"]), int(totals["_tt"]), int(totals["_v"])


def dsir_score(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_filter=None,
    counts=None,
    raw_total: int | None = None,
    target_total: int | None = None,
    vocab_size: int | None = None,
):
    """Data Selection with Importance Resampling (DSIR) weights, exact
    unigram variant: per document, the average log importance ratio
    ``ln(p_target(w) / p_raw(w))`` under add-one smoothing, where the
    target distribution comes from the subset selected by
    ``target_filter`` (e.g. high-quality or in-domain docs). Documents
    resembling the target domain score > 0 and survive importance
    resampling; generic web text scores below. (The published method
    hashes n-grams into buckets; over a bounded vocabulary the exact
    variant is identical with bucket = token, which keeps the scoring
    lane reproducible by an external SQL oracle.)

    Output per doc: ``n_tokens``, exact integer lanes ``raw_freq_sum``
    / ``target_freq_sum`` (sums of corpus counts of the doc's tokens —
    engine-portable), and the float lane ``dsir_weight``.

    Scale shape: vocabulary-bounded count tables (auto-broadcast, AQE
    shuffle-join fallback); corpus shuffles once on the token key and
    once on the doc id. The totals/vocab scalars are a driver-side
    3-number ``first()`` on an aggregated frame — a bounded collect,
    same class as the centroid model in ivf_topk.
    """
    if counts is None or None in (raw_total, target_total, vocab_size):
        counts, raw_total, target_total, vocab_size = dsir_counts(
            df, text_col, target_filter
        )
    doc_tokens = df.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("token")
    )
    joined = doc_tokens.join(counts, "token", "left").select(
        id_col,
        "token",
        F.coalesce("raw_count", F.lit(0)).alias("_rc"),
        F.coalesce("target_count", F.lit(0)).alias("_tc"),
    )
    log_ratio = (
        F.log((F.col("_tc") + 1) / F.lit(float(target_total + vocab_size)))
        - F.log((F.col("_rc") + 1) / F.lit(float(raw_total + vocab_size)))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("token").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("token").isNotNull(), F.col("_rc")))
            .cast("long")
            .alias("raw_freq_sum"),
            F.sum(F.when(F.col("token").isNotNull(), F.col("_tc")))
            .cast("long")
            .alias("target_freq_sum"),
            F.avg(
                F.when(F.col("token").isNotNull(), log_ratio)
            ).alias("dsir_weight"),
        )
        .withColumn(
            "raw_freq_sum", F.coalesce("raw_freq_sum", F.lit(0))
        )
        .withColumn(
            "target_freq_sum", F.coalesce("target_freq_sum", F.lit(0))
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation funnel (composition showcase + audit)
# ---------------------------------------------------------------------------


def curation_funnel(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "es"),
    min_tokens: int = 25,
    max_mean_token_len: float = 15.0,
    min_stopword_ratio: float = 0.01,
    train_pct: int = 80,
):
    """The whole training-data curation pipeline as ONE lazy DAG, with a
    per-stage audit row — the deployment shape that strings the operator
    surface together: quality gate (:func:`quality_ok`) → language
    allowlist → exact dedup keep-min-id (hash-keyed like
    ``dedup.exact_dedup``) → train-split selection
    (:func:`assign_split`). Returns ``(stage, n_docs, total_chars)``,
    one row per stage in funnel order (``raw`` → ``quality`` → ``lang``
    → ``dedup`` → ``train``), so the drop at each stage is auditable —
    the same counts-per-stage observability contract as the reference's
    audit log (transform.py:121,140-143), applied to a corpus pipeline.

    Scale shape: stage flags are cumulative booleans computed in the
    scan stage (one pass, codegen); the only shuffle before the final
    tiny aggregate is the dedup window, keyed on the 128-bit content
    hash — never on the text. Survivor selection per duplicate group is
    ``min(id) over (partition by hash)``, bounded state per group.
    """
    from incremental_github_data_pipeline_spark.operators.dedup import (
        content_key,
    )

    s1 = quality_ok(
        text_col, min_tokens, max_mean_token_len, min_stopword_ratio
    )
    s2 = s1 & F.col(lang_col).isin(list(langs))
    base = df.select(
        F.col(id_col).alias("_id"),
        char_count(text_col).alias("_nc"),
        s1.alias("_s1"),
        s2.alias("_s2"),
        content_key([text_col]).alias("_h"),
    )
    w = Window.partitionBy("_h")
    staged = base.withColumn(
        "_min_id", F.min(F.when(F.col("_s2"), F.col("_id"))).over(w)
    ).withColumn("_s3", F.col("_s2") & (F.col("_id") == F.col("_min_id")))
    staged = staged.withColumn(
        "_s4",
        F.col("_s3")
        & (assign_split(F.col("_id"), train_pct=train_pct) == "train"),
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum("_nc").alias("raw_c"),
        *[
            x
            for i in (1, 2, 3, 4)
            for x in (
                F.sum(F.when(F.col(f"_s{i}"), 1).otherwise(0)).alias(f"s{i}"),
                F.sum(F.when(F.col(f"_s{i}"), F.col("_nc")).otherwise(0)).alias(
                    f"s{i}_c"
                ),
            )
        ],
    )
    return agg.selectExpr(
        "stack(5, "
        "'1_raw', raw, raw_c, "
        "'2_quality', s1, s1_c, "
        "'3_lang', s2, s2_c, "
        "'4_dedup', s3, s3_c, "
        "'5_train', s4, s4_c"
        ") as (stage, n_docs, total_chars)"
    ).selectExpr(
        "stage",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(total_chars AS BIGINT) AS total_chars",
    )


def normalize_text(col: Column | str, lowercase: bool = False) -> Column:
    """Corpus text normalization — the cleanup stage that runs BEFORE
    hashing/dedup so byte-level noise doesn't defeat exact content
    keys: strip C0/C1 control characters (tab and newline included —
    they re-enter as the single-space separator), collapse whitespace
    runs to one space, trim, optionally casefold. Pure regexp
    expressions, engine-portable and codegen-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c, r"[\x00-\x1F\x7F]", " ")
    collapsed = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return F.lower(collapsed) if lowercase else collapsed


def make_chunk_udtf(chunk_size: int = 128, step: int = 96):
    """The UDTF lane for :func:`chunk_documents` — same contract, built
    on Spark 4's Python user-defined TABLE function API (one input row
    → N output rows) instead of explode/slice expressions.

    The expression path is the production default (codegen, zero
    Python); this lane exists for chunkers that genuinely need Python
    (model-based sentence splitters, tokenizer-aware boundaries) and
    as the documented pattern for table-valued extension points —
    SURVEY.md §2.9 notes the reference has no UDTF surface, so this is
    where one plugs in. Agreement between the two lanes is pinned by
    test_text_quality.py::test_chunk_udtf_agrees_with_expression_lane.

    Usage::

        ChunkUdtf = make_chunk_udtf(128, 96)
        spark.udtf.register("chunk_udtf", ChunkUdtf)
        df.lateralJoin(ChunkUdtf(F.col("doc_id"), F.col("text")))
        # or in SQL: SELECT c.* FROM docs, LATERAL chunk_udtf(doc_id, text) c
    """
    if step <= 0 or chunk_size < step:
        raise ValueError("need 0 < step <= chunk_size")

    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id long, chunk_idx int, chunk_text string, chunk_tokens int"
        )
    )
    class ChunkUdtf:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF protocol
            toks = text.split() if text and text.strip() else []
            n = len(toks)
            n_chunks = 1 + max(0, -(-(n - chunk_size) // step)) if n else 1
            for i in range(max(1, n_chunks)):
                piece = toks[i * step : i * step + chunk_size]
                yield doc_id, i, " ".join(piece), len(piece)

    return ChunkUdtf


def paragraph_dedup(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 20,
):
    """C4-style paragraph-level dedup, generalized to fixed token
    blocks: split each document into non-overlapping ``block_tokens``
    windows, keep only the globally FIRST occurrence of each block text
    (ordered by ``(id, block_idx)``), drop every repeat, and reassemble
    the surviving blocks per document. The line-level twin of the
    document-level ``dedup.exact_dedup`` — what C4 does with "remove
    any three-sentence span seen before", expressed at token-block
    granularity because the synthetic corpus carries no sentence marks.

    Scale shape: block formation is pure map-side (``transform`` over
    ``sequence`` on the token array — no explode-then-groupBy round
    trip); the only wide stages are the keep-first window, shuffled on
    ``block_text`` (content-keyed, uniformly distributed), and the
    per-document reassembly, shuffled on the document id. Per-document
    state is bounded by document size. Two shuffles total.

    Returns one row per document: ``(id, n_blocks, kept_blocks,
    new_text, new_n_chars)``.
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    n_blocks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(block_tokens))).cast("int"),
        F.lit(1),
    )
    block_arr = F.transform(
        F.sequence(F.lit(0), n_blocks - F.lit(1)),
        lambda b: F.array_join(
            F.slice(toks, b * block_tokens + F.lit(1), block_tokens), " "
        ),
    )
    blocks = df.select(
        F.col(id_col),
        F.posexplode(block_arr).alias("block_idx", "block_text"),
    )
    w = Window.partitionBy("block_text").orderBy(id_col, "block_idx")
    flagged = blocks.withColumn("keep", F.row_number().over(w) == 1)
    packed = F.array_sort(
        F.collect_list(F.struct("block_idx", "keep", "block_text"))
    )
    kept_text = F.array_join(
        F.transform(
            F.filter(packed, lambda s: s["keep"]),
            lambda s: s["block_text"],
        ),
        " ",
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col("keep").cast("long")).alias("kept_blocks"),
            kept_text.alias("new_text"),
        )
        .withColumn("new_n_chars", F.length("new_text").cast("long"))
    )


def tf_idf(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-(document, term) TF-IDF: ``tf`` = term occurrences in the
    doc, ``df`` = documents containing the term, ``tfidf`` =
    tf * ln(N/df). Three wide stages, all content-keyed: tf groupBy
    (doc, term), document-frequency groupBy term, and the tf-df join on
    term; the corpus row count rides as a broadcast 1-row aggregate (no
    driver action). At 100 TB the term-keyed stages distribute by
    vocabulary — the natural-language long tail hashes uniformly; a
    genuinely hot stop-word key is what ``skew.salted_aggregate`` is
    for."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")),
        )
        .drop("_n")
        .select(id_col, "term", "tf", "df", "tfidf")
    )


def bm25_topk(
    docs,
    queries,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float | None = None,
    tokens_df=None,
):
    """BM25 top-k retrieval — the lexical-search primitive RAG corpora
    are triaged with. Sparse scoring as a TERM EQUI-JOIN against the
    postings (never query × corpus): per-doc term frequencies join the
    distinct query terms on ``term``, so only postings of terms a
    query actually contains ever shuffle — the inverted-index access
    path, expressed declaratively so Catalyst plans it.

    Score per (query, doc): Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    b·dl/avgdl)) with the Lucene/Robertson idf
    ln(1 + (N − df + ½)/(df + ½)). N and avgdl ride as a broadcast
    1-row aggregate. ``max_df_ratio`` optionally drops terms present
    in more than that fraction of docs (stop-word pruning — at 100 TB
    a stop-word's posting list is corpus-sized and its idf ≈ 0, so the
    candidate blow-up buys nothing; pruning bounds the join fan-out by
    construction). Ties rank by doc id asc — deterministic across
    engines, the same convention as :func:`tf_idf`'s oracle lane.

    Returns (qid, rank, doc id, n_terms long, sum_tf long, score
    double) — the integer lanes are engine-exact for oracle
    certification; the float score is informational.

    ``tokens_df`` optionally supplies the corpus occurrence frame
    (one ``(id_col, term)`` row per token occurrence) so a caller that
    needs the tokens for another lane too (qrels derivation, vocab
    stats) tokenizes the corpus ONCE and shares the frame — without it
    a composite query pays a second full scan + tokenize of the corpus
    (VERDICT r9 "double tokenization"). ``docs`` is still required for
    the document count N (empty docs count toward N and avgdl but emit
    no tokens).
    """
    toks = (
        tokens_df
        if tokens_df is not None
        else docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("term")
        )
    )
    # dl / df / the join side all derive from tf. Materialize it once
    # (the inverted_index precedent): per-branch column pruning
    # specializes each replay (the df branch drops the count entirely),
    # so the subtrees stop being canonically equal and Spark's exchange
    # reuse CANNOT kick in — without the checkpoint the corpus is
    # re-scanned and re-tokenized once per consumer, fatal at 100 TB.
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        docs.agg(F.count(F.lit(1)).alias("_n"))
        # avgdl over ALL docs (empty docs count, matching dl's absence
        # from postings): total tokens / total docs
        .crossJoin(dl.agg(F.sum("dl").alias("_tot")))
        .select(
            "_n",
            (
                F.coalesce(F.col("_tot"), F.lit(0)) / F.col("_n")
            ).alias("_avgdl"),
        )
    )
    qterms = queries.select(
        F.col(qid_col), F.explode(tokens(qtext_col)).alias("term")
    ).distinct()

    postings = tf.join(dfreq, "term")
    if max_df_ratio is not None:
        postings = postings.crossJoin(F.broadcast(stats)).filter(
            F.col("df") <= F.col("_n") * F.lit(max_df_ratio)
        ).drop("_n", "_avgdl")
    return bm25_rank(
        qterms.join(postings, "term").join(dl, id_col),
        stats, qid_col, id_col, k, k1, b,
    )


def bm25_rank(
    hits, stats, qid_col: str, id_col: str, k: int, k1: float, b: float
):
    """The BM25 scoring and top-k lane shared by :func:`bm25_topk` and
    ``streaming.incremental.bm25_search_versioned``, so one-shot and
    incremental indexing rank identically by construction. ``hits`` has
    one row per (query, doc, term) with ``tf``, ``df`` and ``dl``;
    ``stats`` is the 1-row ``(_n, _avgdl)`` corpus aggregate, broadcast
    here. Returns (qid, rank, doc id, n_terms, sum_tf, score)."""
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("_avgdl")
                )
            ),
        )
        .groupBy(qid_col, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("sum_tf"),
            F.sum("_s").alias("score"),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "n_terms", "sum_tf", "score")
    )


def temperature_weights(
    df, alpha: float = 0.5, strata_col: str = "source", parts: int = 100
) -> dict[str, int]:
    """Temperature-based mixture targets (the multilingual/UNIMAX
    recipe): stratum weight proportional to ``n_s ** alpha``, so
    ``alpha=1`` reproduces natural proportions, ``alpha=0`` uniform,
    and the usual 0.3-0.7 range up-weights the tail without drowning
    the head. Returns integer parts (summing to ~``parts``) ready for
    :func:`mix_sources` / :func:`mixture_cutoffs`; every present
    stratum gets at least 1 part. The per-stratum count collect is
    bounded by the stratum count."""
    counts = {r[0]: r[1] for r in df.groupBy(strata_col).count().collect()}
    if not counts:
        return {}
    w = {s: float(n) ** alpha for s, n in counts.items()}
    tot = sum(w.values())
    return {s: max(1, int(parts * v / tot)) for s, v in w.items()}


# ---------------------------------------------------------------------------
# Compressed text ingestion (gzip, multi-member) — web-scale text
# corpora (WARC/WET shards) arrive as concatenated gzip members, one
# document per member; stdlib-only, Arrow-batched.
# ---------------------------------------------------------------------------


def gzip_members(payload: bytes) -> list[bytes]:
    """Split a (possibly multi-member) gzip stream into its members'
    decompressed bytes — the WARC/WET layout where each record is its
    own member so readers can seek. Walks real member boundaries via
    zlib's unused_data; a bad magic or truncated member raises."""
    import zlib as _zlib

    out = []
    rest = payload
    while rest:
        if rest[:2] != b"\x1f\x8b":
            raise ValueError("bad gzip member magic")
        d = _zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(rest))
        except _zlib.error as exc:
            # Normalize corrupt-deflate to ValueError so every caller's
            # on_error="skip" quarantine path (which catches ValueError)
            # survives torn shards instead of crashing the whole pass.
            raise ValueError(f"corrupt gzip member: {exc}") from exc
        if not d.eof:
            raise ValueError("truncated gzip member")
        rest = d.unused_data
    return out


def gzip_ingest(
    df,
    payload_col: str = "payload",
    id_col: str = "payload_id",
    on_error: str = "raise",
):
    """Decode multi-member gzip payloads into one row per member:
    ``(id, member_idx, text)`` (UTF-8). One Arrow-batched mapInPandas
    pass — decompression runs where the bytes already are, no shuffle;
    downstream token/char stats stay in codegen expressions.

    ``on_error="raise"`` (default) fails the job on the first corrupt
    payload — the strict-ingest contract; ``"skip"`` drops corrupt
    payloads whole (all members), the quarantine mode for crawl shards
    where a torn record must not kill a 100 TB pass. Skipped ids can be
    recovered as ``df.join(decoded, id_col, "left_anti")``."""
    schema = StructType(
        [
            df.schema[id_col],
            StructField("member_idx", IntegerType(), False),
            StructField("text", StringType(), False),
        ]
    )

    def rows(r):
        pid, payload = r
        for j, member in enumerate(gzip_members(payload)):
            yield pid, j, member.decode("utf-8")

    return per_row_stage(
        df.select(id_col, payload_col), schema, rows, on_error=on_error
    )


# ---------------------------------------------------------------------------
# Round-5 curation operators: URL/domain analysis, deterministic weighted
# sampling, boilerplate-line detection, inverted index
# ---------------------------------------------------------------------------

URL_PATTERN = r"https?://[^\s]+"


def url_stats(df, text_col: str = "text"):
    """Per-domain URL statistics over a text corpus — the web-corpus
    triage primitive (domain allow/deny lists, CDN filtering, crawl
    frontier weighting). Extracts every URL, normalizes it (query
    string stripped — tracking params must not split domains), keys by
    host, and aggregates: total URLs, distinct source docs, https
    share.

    Pure scan-stage expressions (regexp_extract_all + explode) followed
    by ONE aggregate shuffle on the domain key; text itself never
    shuffles — only the extracted URLs do, a tiny fraction of corpus
    bytes. No reference counterpart ([EXT], SURVEY.md §2.10).
    """
    urls = df.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
        ).alias("url"),
    ).select(
        "doc_id",
        F.regexp_replace(F.col("url"), r"\?.*$", "").alias("url_norm"),
        F.regexp_extract(F.col("url"), r"^https?://([^/?\s]+)", 1).alias(
            "domain"
        ),
        (F.substring(F.col("url"), 1, 6) == "https:")
        .cast("long")
        .alias("is_https"),
    )
    return urls.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("url_norm").alias("n_distinct_urls"),
        F.sum("is_https").alias("n_https"),
    )


def weighted_sample_priority(
    df,
    id_col: str,
    weight_col,
    k: int = 100,
):
    """Deterministic weighted sampling without replacement: keep the
    ``k`` rows with the smallest integer priority
    ``knuth_hash(id) div weight`` (ties → id). Heavier rows draw
    smaller priorities proportionally more often — the integer-exact
    analogue of A-ExpJ priority sampling (Efraimidis-Spirakis keys
    u^(1/w) replaced by a division so the kept SET is bit-reproducible
    in any engine, no floats, no RNG; same portability trick as
    ``sample_stratified``).

    Plan shape: the priority is a scan-stage expression and the global
    top-k compiles to TakeOrderedAndProject (per-partition heaps + one
    k-row merge) — no global sort, no single-partition stage, which is
    why this is also the 100 TB-safe way to take any deterministic
    top-k.

    Rows with ``weight < 1`` are ineligible and filtered out (same
    explicit non-negative contract as ``ewma_integer``): ``hk div 0``
    is NULL, and Spark sorts NULLs FIRST ascending while DuckDB sorts
    them LAST — without the filter a zero-weight row (e.g. an empty
    document) would be sampled ahead of everything on one engine and
    never on the other.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    c = F.col(id_col)
    hk = (c * F.lit(2654435761)) % F.lit(2147483648)
    out = (
        df.select(
            c.alias(id_col),
            w.cast("long").alias("weight"),
            hk.cast("long").alias("hk"),
        )
        .filter(F.col("weight") >= 1)
        .withColumn("priority", F.expr("hk div weight"))
    )
    return out.orderBy("priority", id_col).limit(k)


def boilerplate_lines(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    sep: str = " | ",
    min_pct: int = 80,
):
    """Boilerplate detection, the Trafilatura/CCNet idea at corpus
    scale: a LINE that repeats across ≥ ``min_pct``% of one source's
    documents is template chrome (nav bars, cookie banners, footers),
    not content, and should be stripped before training. Returns
    ``(source, line, n_docs_with, n_docs)`` for every flagged line.

    Shape: explode lines (scan stage), one aggregate on
    ``(source, line)`` with a distinct-doc count, joined against the
    per-source doc totals — the totals frame is |sources| rows, so the
    join broadcasts. The percentage test is integer cross-multiplied
    (``n_with * 100 >= pct * n_docs``), no float thresholds.
    """
    import re

    lines = df.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        # F.split takes a REGEX — escape the separator ('|' would be
        # alternation and split on every space)
        F.explode(F.split(F.col(text_col), re.escape(sep), -1)).alias("line"),
    ).filter(F.length(F.trim("line")) > 0)
    per_line = lines.groupBy("source", "line").agg(
        F.countDistinct(id_col).alias("n_docs_with")
    )
    totals = df.groupBy(F.col(source_col).alias("source")).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    return per_line.join(F.broadcast(totals), "source").filter(
        F.col("n_docs_with") * 100 >= F.lit(min_pct) * F.col("n_docs")
    )


def inverted_index(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_docs: int = 2,
    min_df: int = 2,
):
    """Inverted-index build: per term, document frequency, total term
    frequency, and the ``top_docs`` highest-tf postings (tf desc, then
    id — deterministic). The search-index primitive; also the posting
    lists the AllPairs/containment dedups consume, surfaced as its own
    operator.

    Shape: token explode → one (term, doc) aggregate → one term-window
    for the capped postings → one term aggregate. Postings emit as
    ROWS (term, rank, doc, tf), not arrays — bounded fan-out, and
    array-free output keeps downstream engines' comparators happy.
    """
    tf = (
        df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
        )
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
        # two consumers (df/total_tf stats + the postings window) would
        # each replay the corpus scan + token explode + aggregate; an
        # index BUILD materializes its postings once by definition
        .localCheckpoint(eager=True)
    )
    stats = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    # Two-phase top-k: a Zipf-heavy term (stopwords hit ~every doc)
    # would push a corpus-sized posting list through ONE task under a
    # plain per-term window. Salting first bounds any task to its
    # salt's share, then the term-level window ranks at most
    # 16·top_docs survivors per term — skew-immune for one extra
    # bounded shuffle, identical output (both phases share the
    # deterministic (tf desc, id) order).
    n_salt = 16
    w_local = Window.partitionBy("term", "_salt").orderBy(
        F.col("tf").desc(), F.col(id_col)
    )
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col(id_col)
    )
    top = (
        tf.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))
        )
        .withColumn("_lrn", F.row_number().over(w_local))
        .filter(F.col("_lrn") <= top_docs)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_docs)
        .drop("_salt", "_lrn")
    )
    return (
        top.join(stats, "term")
        .filter(F.col("df") >= min_df)
        .select("term", "df", "total_tf", "rank", id_col, "tf")
    )


# ---------------------------------------------------------------------------
# BPE merge learning + RAG-shape chunking (round 5)
# ---------------------------------------------------------------------------

_BPE_SEP = "\x1f"  # unit separator: cannot occur in whitespace tokens


def learn_bpe(
    df,
    text_col: str = "text",
    n_merges: int = 4,
    local_vocab_max: int = 200_000,
    local_syms_max: int = 8_000_000,
):
    """Learn ``n_merges`` BPE merges from a corpus and return BOTH
    halves of the trained tokenizer: ``(merges DataFrame, vocab
    DataFrame)`` — the merge table ``(step, pa, pb, cnt)`` and the
    final per-word-type segmentation ``(word, freq, syms)`` (what
    applying the merges to every vocabulary word yields — tokenizing a
    document is then a word->syms lookup join, no re-deriving). The
    tokenizer-TRAINING primitive (Sennrich et al. 2016: iterate
    "count adjacent symbol pairs over the word-frequency table, merge
    the most frequent"), with a deterministic tie-break (count desc,
    then pair lexicographic) so both outputs are bit-identical in any
    engine replaying the same recurrence.

    Scale shape — the corpus is scanned ONCE: the word-frequency
    aggregate reduces 100 TB of text to a vocabulary-sized table
    (checkpointed), and every round after that runs on the vocabulary
    only — one pair-count aggregate shuffle plus a 1-row argmax
    collect per round (bounded driver state, the PageRank-convergence
    discipline). Words are kept as a ``\\x1f``-delimited symbol string
    and each merge applies as a per-row string FOLD (``F.aggregate``)
    whose left-to-right look-back exactly reproduces BPE's greedy
    non-overlapping scan ("aaa" + merge (a,a) -> ["aa","a"], never
    ["aa","aa"]); the leading separator in the end-anchor test keeps a
    merged token from chain-merging within the same round. No
    reference counterpart ([EXT], SURVEY.md §2.10).

    Hybrid rounds (the ``connected_components`` ≤500k-edge discipline,
    ``dedup.py:590``): after the one corpus scan, if the checkpointed
    vocabulary holds at most ``local_vocab_max`` word types it is
    collected ONCE and the merge rounds fold driver-locally — real
    tokenizer training is 30k–50k merges, and one Spark job + 1-row
    collect per merge would mean tens of thousands of sequential jobs
    over a table that fits the driver after round one. Above the gate
    the distributed per-round path runs unchanged. Both paths replay
    the identical recurrence (greedy non-overlapping left-to-right
    scan, count-desc/pair-lexicographic tie-break) and are pinned
    bit-identical by a local-vs-distributed agreement test at
    ``n_merges=1000``; set ``local_vocab_max=0`` to force the
    distributed path.

    The gate bounds what the driver would actually COLLECT, not just
    the row count: driver memory is proportional to total symbols
    (sum of word lengths), so a whitespace-free corpus (code, URLs)
    with few very long word types must not slip through a types-only
    gate. The local path is taken only when BOTH ``word types <=
    local_vocab_max`` AND ``total symbols <= local_syms_max`` hold
    (one extra aggregate row over the already-checkpointed
    vocabulary, no extra corpus scan).

    WHY THE DISTRIBUTED LOOP CANNOT BATCH ITS PER-MERGE COLLECTS
    (r16, VERDICT r15 task 9 — "collect every k merges" examined and
    rejected): collecting the top-k pairs up front and applying them
    without re-counting is UNSOUND even when the k pairs are
    symbol-disjoint, because applying merge 1 CREATES pairs that did
    not exist before — every adjacency (x, ab) / (ab, y) around the
    fused symbol is new, and such a pair's count can be as large as
    cnt(merge 1), i.e. ABOVE the pre-batch rank-2 pair's count.
    Counter-example: corpus "c a b"·n ∪ "a b"·m with n > m; pre-batch
    counts are (a,b): n+m, (c,a): n, so a batch of 2 would apply
    (a,b) then (c,a) — but after (a,b)→ab the true next argmax is the
    NEW pair (c, ab) with count n, and (c,a) no longer exists at all.
    The next argmax after a merge is therefore not decidable from any
    pre-batch driver state; it needs the post-merge pair counts —
    exactly one aggregate per merge, which is what the loop runs. The
    hybrid local gate above is the real fix: after the single corpus
    scan the recurrence runs driver-side with ZERO per-merge jobs for
    any vocabulary that fits (including every bench/test corpus), and
    the distributed path remains only for vocabularies too large to
    collect — where one bounded 1-row collect per merge IS the
    declared recurrence. Same argument applies verbatim to WordPiece
    (its score ranks pairs, but merges still create pairs).
    """
    sep = _BPE_SEP
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            F.concat(
                F.lit(sep),
                F.regexp_replace(F.col("word"), "(.)", "$1" + sep),
            ).alias("seq"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    gate = words.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("n_syms"),
    ).first()
    if gate.n_types <= local_vocab_max and gate.n_syms <= local_syms_max:
        return _learn_bpe_local(df.sparkSession, words, n_merges)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        arr = F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit(""))
        pairs_col = F.when(
            F.size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("pa"),
                    F.element_at(arr, i + 1).alias("pb"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pa:string,pb:string>>"))
        top = (
            words.select("freq", F.explode(pairs_col).alias("_pr"))
            .groupBy(F.col("_pr.pa").alias("pa"), F.col("_pr.pb").alias("pb"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pa", "pb")
            .limit(1)
            .collect()  # ONE row: bounded driver state by construction
        )
        if not top:
            break
        pa, pb, cnt = top[0].pa, top[0].pb, int(top[0].cnt)
        merges.append((step, pa, pb, cnt))
        anchor, merged = sep + pa + sep, pa + pb + sep
        fold = F.aggregate(
            F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit("")),
            F.lit(sep),
            lambda acc, x: F.when(
                (x == F.lit(pb)) & F.endswith(acc, F.lit(anchor)),
                F.concat(
                    F.substr(
                        acc, F.lit(1), F.length(acc) - F.lit(len(pa) + 1)
                    ),
                    F.lit(merged),
                ),
            ).otherwise(F.concat(acc, x, F.lit(sep))),
        )
        words = words.select(
            "word", fold.alias("seq"), "freq"
        ).localCheckpoint(eager=True)
    merges_df = local_rows_df(
        df.sparkSession,
        merges, "step BIGINT, pa STRING, pb STRING, cnt BIGINT"
    )
    vocab = words.select(
        "word",
        "freq",
        F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit("")).alias(
            "syms"
        ),
    )
    return merges_df, vocab


def _learn_bpe_local(spark, words, n_merges: int):
    """Driver-local merge rounds for a gate-bounded vocabulary: the
    exact recurrence of :func:`learn_bpe`'s distributed loop (pair
    counts weighted by word freq incl. overlapping occurrences, argmax
    by count desc then pair lexicographic, greedy non-overlapping
    left-to-right merge), folded in plain Python over the collected
    (word, syms, freq) rows. One collect, zero per-round jobs."""
    sep = _BPE_SEP
    rows = [
        (r["word"], [s for s in r["seq"].split(sep) if s], int(r["freq"]))
        for r in words.select("word", "seq", "freq").collect()
    ]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _w, syms, freq in rows:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (pa, pb), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, pa, pb, cnt))
        merged = pa + pb
        nxt = []
        for w, syms, freq in rows:
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == pa and syms[i + 1] == pb:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((w, out, freq))
        rows = nxt
    merges_df = local_rows_df(
        spark,
        merges, "step BIGINT, pa STRING, pb STRING, cnt BIGINT"
    )
    vocab = local_rows_df(
        spark,
        [(w, freq, syms) for w, syms, freq in rows],
        "word STRING, freq BIGINT, syms ARRAY<STRING>",
    )
    return merges_df, vocab


def learn_bpe_merges(
    df,
    text_col: str = "text",
    n_merges: int = 4,
    local_vocab_max: int = 200_000,
):
    """Merge table only — see :func:`learn_bpe`."""
    return learn_bpe(df, text_col, n_merges, local_vocab_max)[0]


#: WordPiece likelihood-ratio score scale: score_s =
#: (pair_count · SCALE) div (count(a) · count(b)), evaluated in
#: DECIMAL(38,0) / HUGEINT so the product never overflows int64; the
#: quotient is ≤ SCALE (pair_count ≤ min(ca, cb) ≤ ca·cb) and lands
#: back in a bigint lane.
_WP_SCORE_SCALE = 10**12


def learn_wordpiece(
    df,
    text_col: str = "text",
    n_merges: int = 4,
    local_vocab_max: int = 200_000,
    local_syms_max: int = 8_000_000,
):
    """Learn ``n_merges`` WordPiece merges — the THIRD major tokenizer
    family next to :func:`learn_bpe` and :func:`learn_unigram`. Same
    training loop as BPE (pair counts over the word-frequency
    vocabulary, greedy merge, identical left-to-right fold) with
    WordPiece's likelihood-ratio argmax (Schuster & Nakajima 2012 /
    the BERT tokenizer): merge the pair maximizing
    ``count(ab) / (count(a) · count(b))`` — the pair whose joint
    frequency most exceeds what its parts' frequencies predict —
    instead of raw ``count(ab)``. Rare-but-strongly-bound pairs
    ("##ing" morphemes) win over merely common ones.

    The score is the SCALED-INTEGER floor quotient
    ``(cnt · 10^12) div (ca · cb)`` in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — measured to agree digit-for-digit — with
    (score desc, pa, pb) tie-break, so training is bit-reproducible
    across engines like every other iterative operator here. Returns
    ``(merges DataFrame (step, pa, pb, cnt, score_s), vocab DataFrame
    (word, freq, syms))``; apply-side tokenization reuses
    :func:`bpe_tokenize` (a word→syms lookup join — the apply path is
    family-agnostic).

    Scale shape: identical to :func:`learn_bpe` — ONE corpus scan into
    the checkpointed word-TYPE table, then per round one pair-count
    aggregate + one symbol-count aggregate (both vocabulary-sized) and
    a 1-row argmax collect; the same driver-local hybrid gate folds
    ≤``local_vocab_max``-type vocabularies without per-round Spark
    jobs, pinned bit-identical to the distributed path by tests.
    """
    sep = _BPE_SEP
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            F.concat(
                F.lit(sep),
                F.regexp_replace(F.col("word"), "(.)", "$1" + sep),
            ).alias("seq"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    gate = words.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("n_syms"),
    ).first()
    if gate.n_types <= local_vocab_max and gate.n_syms <= local_syms_max:
        return _learn_wordpiece_local(df.sparkSession, words, n_merges)
    merges: list[tuple[int, str, str, int, int]] = []
    for step in range(1, n_merges + 1):
        arr = F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit(""))
        pairs_col = F.when(
            F.size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("pa"),
                    F.element_at(arr, i + 1).alias("pb"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pa:string,pb:string>>"))
        pair_cnt = (
            words.select("freq", F.explode(pairs_col).alias("_pr"))
            .groupBy(F.col("_pr.pa").alias("pa"), F.col("_pr.pb").alias("pb"))
            .agg(F.sum("freq").alias("cnt"))
        )
        sym_cnt = (
            words.select("freq", F.explode(arr).alias("sym"))
            .groupBy("sym")
            .agg(F.sum("freq").alias("c"))
        )
        top = (
            pair_cnt.join(
                sym_cnt.select(F.col("sym").alias("pa"), F.col("c").alias("_ca")),
                "pa",
            )
            .join(
                sym_cnt.select(F.col("sym").alias("pb"), F.col("c").alias("_cb")),
                "pb",
            )
            .withColumn(
                "score_s",
                F.expr(
                    f"CAST((CAST(cnt AS DECIMAL(38,0)) * {_WP_SCORE_SCALE})"
                    " div (CAST(_ca AS DECIMAL(38,0))"
                    " * CAST(_cb AS DECIMAL(38,0))) AS BIGINT)"
                ),
            )
            .orderBy(F.col("score_s").desc(), "pa", "pb")
            .limit(1)
            .collect()  # ONE row: bounded driver state by construction
        )
        if not top:
            break
        pa, pb = top[0].pa, top[0].pb
        merges.append((step, pa, pb, int(top[0].cnt), int(top[0].score_s)))
        anchor, merged = sep + pa + sep, pa + pb + sep
        fold = F.aggregate(
            F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit("")),
            F.lit(sep),
            lambda acc, x: F.when(
                (x == F.lit(pb)) & F.endswith(acc, F.lit(anchor)),
                F.concat(
                    F.substr(
                        acc, F.lit(1), F.length(acc) - F.lit(len(pa) + 1)
                    ),
                    F.lit(merged),
                ),
            ).otherwise(F.concat(acc, x, F.lit(sep))),
        )
        words = words.select(
            "word", fold.alias("seq"), "freq"
        ).localCheckpoint(eager=True)
    merges_df = local_rows_df(
        df.sparkSession,
        merges, "step BIGINT, pa STRING, pb STRING, cnt BIGINT, score_s BIGINT"
    )
    vocab = words.select(
        "word",
        "freq",
        F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit("")).alias(
            "syms"
        ),
    )
    return merges_df, vocab


def _learn_wordpiece_local(spark, words, n_merges: int):
    """Driver-local WordPiece rounds for a gate-bounded vocabulary —
    the exact recurrence of :func:`learn_wordpiece`'s distributed loop
    (Python ints are exact, ``//`` floors and all quantities are
    positive, so the score quotient matches the DECIMAL ``div``)."""
    sep = _BPE_SEP
    rows = [
        (r["word"], [s for s in r["seq"].split(sep) if s], int(r["freq"]))
        for r in words.select("word", "seq", "freq").collect()
    ]
    merges: list[tuple[int, str, str, int, int]] = []
    for step in range(1, n_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for _w, syms, freq in rows:
            for s in syms:
                sym_counts[s] = sym_counts.get(s, 0) + freq
            for pair in zip(syms, syms[1:]):
                pair_counts[pair] = pair_counts.get(pair, 0) + freq
        if not pair_counts:
            break
        scored = {
            (pa, pb): (cnt * _WP_SCORE_SCALE)
            // (sym_counts[pa] * sym_counts[pb])
            for (pa, pb), cnt in pair_counts.items()
        }
        (pa, pb), score = min(
            scored.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, pa, pb, pair_counts[(pa, pb)], score))
        nxt = []
        for w, syms, freq in rows:
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == pa and syms[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((w, out, freq))
        rows = nxt
    merges_df = local_rows_df(
        spark,
        merges, "step BIGINT, pa STRING, pb STRING, cnt BIGINT, score_s BIGINT"
    )
    vocab = local_rows_df(
        spark,
        [(w, freq, syms) for w, syms, freq in rows],
        "word STRING, freq BIGINT, syms ARRAY<STRING>",
    )
    return merges_df, vocab


def learn_unigram(
    df,
    text_col: str = "text",
    vocab_size: int = 256,
    n_iters: int = 3,
    max_piece_len: int = 6,
    seed_size: int = 2048,
    count_scale: int = 10_000,
):
    """Unigram-LM tokenizer training (the SentencePiece/Kudo-2018
    family — the OTHER major subword algorithm next to BPE): seed a
    piece inventory from frequent substrings, run EM over the
    word-frequency table (E-step: forward–backward expected piece
    counts per word type; M-step: renormalize piece probabilities),
    then prune to ``vocab_size`` by expected count, always retaining
    every single character (lossless-coverage guarantee). Returns
    ``(vocab, pieces)`` where ``vocab`` is the (word, freq, syms)
    Viterbi segmentation of every word type — the SAME shape
    :func:`learn_bpe` emits, so :func:`bpe_tokenize`'s broadcast
    lookup join applies this tokenizer unchanged — and ``pieces`` is
    (piece, qcount, logp_scaled, rank).

    Determinism discipline (the pagerank/gram-matrix rule — no
    order-dependent float aggregation ever crosses an engine
    boundary): each word type's forward–backward runs in a FIXED
    sequential order (log-domain float64, deterministic for fixed
    inputs), its expected counts are quantized to integers
    (× ``count_scale``) BEFORE the cross-word aggregation, so the
    M-step consumes exact integer sums; piece log-probs re-enter the
    E-step as scaled integers. Viterbi applies integer scores with a
    longest-piece tie-break. Two runs — or two engines — replay the
    identical recurrence. ``count_scale`` trades quantization grain
    against int64 headroom (sum ≈ total corpus tokens × scale; 10^4
    holds to ~10^14-token corpora).

    Scale shape: the corpus is scanned ONCE into the checkpointed
    word-type table; seeding, every E-step, and the final Viterbi are
    Arrow-batched mapInPandas over word TYPES with the piece table
    broadcast (driver state bounded by ``seed_size`` + charset, the
    learn_bpe gate discipline); each M-step is one vocabulary-sized
    aggregate + collect. Simplification vs full SentencePiece, stated
    honestly: pruning is by expected count, not per-piece likelihood
    loss. Reference n/a ([EXT], SURVEY.md §2.10).
    """
    import math

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession

    def substrings(r):
        w, fq = r.word, int(r.freq)
        for i in range(len(w)):
            for j in range(i + 1, min(i + max_piece_len, len(w)) + 1):
                yield w[i:j], fq

    # r15: one materialization — the chars collect and the top-k seed
    # collect each re-ran the full substring mapInPandas + aggregate
    # without it (two corpus-derived passes for one table, guide §1.2).
    sub_counts = (
        per_row_stage(
            words, StructType.fromDDL("piece string, cnt long"), substrings
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    chars = {
        r["piece"]: r["cnt"]
        for r in sub_counts.filter(F.length("piece") == 1).collect()
    }
    top = sub_counts.orderBy(F.col("cnt").desc(), "piece").limit(
        seed_size
    ).collect()
    seed = dict(chars)
    for r in top:
        seed.setdefault(r["piece"], r["cnt"])

    def to_logp(counts: dict[str, int]) -> dict[str, int]:
        total = sum(counts.values())
        return {
            p: round(math.log(c / total) * 1_000_000)
            for p, c in counts.items()
            if c > 0
        }

    logp = to_logp(seed)

    def e_step_fn(logp_b):
        def fn(it):
            import pandas as pd

            lp = {p: v / 1e6 for p, v in logp_b.value.items()}
            for pdf in it:
                acc: dict[str, int] = {}
                for w, fq in zip(pdf["word"], pdf["freq"]):
                    n = len(w)
                    NEG = float("-inf")
                    la = [NEG] * (n + 1)
                    la[0] = 0.0
                    for j in range(1, n + 1):
                        for i in range(max(0, j - max_piece_len), j):
                            p = lp.get(w[i:j])
                            if p is None or la[i] == NEG:
                                continue
                            v = la[i] + p
                            la[j] = (
                                v
                                if la[j] == NEG
                                else max(la[j], v)
                                + math.log1p(
                                    math.exp(-abs(la[j] - v))
                                )
                            )
                    lb = [NEG] * (n + 1)
                    lb[n] = 0.0
                    for i in range(n - 1, -1, -1):
                        for j in range(
                            i + 1, min(n, i + max_piece_len) + 1
                        ):
                            p = lp.get(w[i:j])
                            if p is None or lb[j] == NEG:
                                continue
                            v = lb[j] + p
                            lb[i] = (
                                v
                                if lb[i] == NEG
                                else max(lb[i], v)
                                + math.log1p(
                                    math.exp(-abs(lb[i] - v))
                                )
                            )
                    lz = la[n]
                    if lz == NEG:
                        continue  # uncoverable (cannot happen: chars kept)
                    for i in range(n):
                        for j in range(
                            i + 1, min(n, i + max_piece_len) + 1
                        ):
                            piece = w[i:j]
                            p = lp.get(piece)
                            if p is None or la[i] == NEG or lb[j] == NEG:
                                continue
                            ec = math.exp(la[i] + p + lb[j] - lz)
                            q = round(ec * count_scale) * int(fq)
                            if q:
                                acc[piece] = acc.get(piece, 0) + q
                yield pd.DataFrame(
                    {
                        "piece": list(acc.keys()),
                        "qcount": list(acc.values()),
                    }
                )

        return fn

    counts: dict[str, int] = dict(seed)
    for _ in range(n_iters):
        b = spark.sparkContext.broadcast(logp)
        agg = (
            words.mapInPandas(e_step_fn(b), "piece string, qcount long")
            .groupBy("piece")
            .agg(F.sum("qcount").alias("qcount"))
            .collect()
        )
        counts = {r["piece"]: r["qcount"] for r in agg}
        for c in chars:  # coverage floor: single chars never vanish
            counts.setdefault(c, 1)
        logp = to_logp(counts)

    keep = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:vocab_size]
    final = {p: c for p, c in keep}
    for c in chars:
        final.setdefault(c, counts.get(c, 1))
    logp = to_logp(final)

    final_b = spark.sparkContext.broadcast(logp)

    def viterbi(r):
        w, lp, n = r.word, final_b.value, len(r.word)
        NEG = -(1 << 62)
        dp = [NEG] * (n + 1)
        bk = [0] * (n + 1)
        dp[0] = 0
        for j in range(1, n + 1):
            # i ascending = longest piece first; strict > keeps it on
            # ties (deterministic)
            for i in range(max(0, j - max_piece_len), j):
                p = lp.get(w[i:j])
                if p is None or dp[i] == NEG:
                    continue
                if dp[i] + p > dp[j]:
                    dp[j] = dp[i] + p
                    bk[j] = i
        syms = []
        j = n
        while j > 0:
            syms.append(w[bk[j] : j])
            j = bk[j]
        yield w, int(r.freq), syms[::-1]

    vocab = per_row_stage(
        words,
        StructType.fromDDL("word string, freq long, syms array<string>"),
        viterbi,
    )
    ranked = sorted(final.items(), key=lambda kv: (-kv[1], kv[0]))
    pieces = local_rows_df(
        spark,
        [
            (p, int(c), int(logp[p]), r + 1)
            for r, (p, c) in enumerate(ranked)
        ],
        "piece string, qcount long, logp_scaled long, rank long",
    )
    return vocab, pieces


def bpe_tokenize(df, vocab, text_col: str = "text", id_col: str = "doc_id"):
    """Apply-side of the trained tokenizer: tokenize documents via the
    (word → syms) lookup join :func:`learn_bpe`'s docstring promises —
    never re-deriving merges per document. Whitespace words explode
    with their position, broadcast-join the vocabulary (bounded: one
    row per word TYPE), and unseen words fall back to character
    segmentation (the BPE base case). Per document this returns exact
    int64 ``n_words`` / ``n_tokens`` and the reassembled ``bpe_text``
    (position-ordered segmented words, space-joined) so a single
    misplaced merge anywhere surfaces in the string.

    Scale shape: the corpus never shuffles for the join (vocab
    broadcasts); the only wide op is the per-document reassembly
    groupBy on ``id_col`` — one shuffle, rows pre-shrunk to (id, pos,
    syms). Empty documents emit nothing (posexplode of an empty token
    array), matching the trainer's corpus filter."""
    sep = _BPE_SEP
    char_split = F.filter(
        F.split(
            F.regexp_replace(F.col("word"), "(.)", "$1" + sep), sep
        ),
        lambda x: x != F.lit(""),
    )
    wordpos = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    ).filter(F.col("word") != "")
    joined = wordpos.join(
        F.broadcast(vocab.select("word", "syms")), "word", "left"
    ).select(
        id_col,
        "pos",
        F.coalesce(F.col("syms"), char_split).alias("syms"),
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size("syms")).cast("long").alias("n_tokens"),
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s.syms,
                )
            ),
            " ",
        ).alias("bpe_text"),
    )


# (document chunking already exists above: chunk_documents /
# make_chunk_udtf, certified by q_doc_chunks in queries/ext_text.py)


def negative_samples(
    df,
    id_col: str = "doc_id",
    k: int = 4,
    n_buckets: int = 1024,
    anchors=None,
):
    """Deterministic contrastive negative sampling — K pseudo-random
    corpus negatives per anchor, the pair-construction primitive of
    embedding/contrastive training. A hash RING replaces an RNG: every
    doc lands in ``knuth_hash(id) mod n_buckets``, each bucket elects
    one representative (min (hash, id) — deterministic), and anchor A
    draws its j-th negative from bucket ``(bucket(A) + j) mod
    n_buckets``. Self-pairs are filtered; the sample is bit-reproducible
    in any engine (the same integer-hash portability trick as
    ``sample_stratified`` / ``weighted_sample_priority``).

    Scale shape: ONE corpus aggregate reduces to the n_buckets-row
    representative table (bounded BY PARAMETER, so its broadcast is
    scale-safe); anchors fan out k ways map-side and equi-join the
    broadcast ring. The corpus never shuffles; anchors never shuffle.
    Returns ``(id, neg_rank, neg_id)``.
    """
    anchors = df if anchors is None else anchors
    hk = lambda c: (c * F.lit(2654435761)) % F.lit(2147483648)  # noqa: E731
    c = F.col(id_col)
    # representative election is a map-combinable min_by AGGREGATE, not
    # a per-bucket window: each of the n_buckets partitions holds
    # corpus/n_buckets rows, and a window would sort every one of them
    # in a single task — the aggregate keeps partial minima map-side.
    # (hk, id) pairs are distinct per id, so the min is unique and the
    # election deterministic in any engine.
    ring = (
        df.select(
            c.alias("_rep"),
            hk(c).alias("_hk"),
            (hk(c) % n_buckets).alias("_bucket"),
        )
        .groupBy("_bucket")
        .agg(
            F.min_by("_rep", F.struct("_hk", "_rep")).alias("_rep")
        )
    )
    fan = anchors.select(
        c.alias(id_col),
        (hk(c) % n_buckets).alias("_ab"),
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_rank"),
    ).withColumn("_bucket", (F.col("_ab") + F.col("neg_rank")) % n_buckets)
    return (
        fan.join(F.broadcast(ring), "_bucket")
        .filter(F.col("_rep") != c)
        .select(id_col, F.col("neg_rank").cast("long"), F.col("_rep").alias("neg_id"))
    )


# the fixed HTML-entity subset strip_html decodes — the named entities
# that dominate real markup plus the apostrophe's two spellings; the
# full numeric-entity space needs chr() and stays out of the
# engine-portable contract (documented scope, like the codec guards)
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: '&amp;lt;' must become '&lt;', not '<'
]


def strip_html(col: Column | str) -> Column:
    """HTML → text (r11): the first stage of every crawl-text pipeline.
    Removes <script>/<style> blocks WITH their contents (the two
    elements whose text is never prose), comments, then every
    remaining tag; decodes the dominant named entities (amp last, so
    double-escaped markup un-escapes one level per pass, the standard
    behavior); collapses whitespace and trims. Pure regexp/replace
    expressions — lookaround-free and non-greedy-only, so Java regex
    (Spark) and RE2-style engines (DuckDB oracle twins) agree match
    for match; codegen-side, no UDF. Real-world caveat documented:
    this is the crawl-scale TEXT EXTRACTOR (tag-blind, like the
    classic WET pipeline), not a DOM parser — attribute semantics,
    numeric entities and CDATA stay out of contract."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, repl in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def canonicalize_url(col: Column | str) -> Column:
    """URL canonicalization (r11) — the dedup prerequisite: the same
    page arrives under dozens of spellings, and exact/near dedup keyed
    on raw URLs silently keeps them all. Normalizations (the safe,
    semantics-preserving set): drop the fragment, lowercase scheme and
    host (never the path — paths are case-significant), strip the
    scheme's default port (:80 http / :443 https), empty path → '/',
    SORT the query parameters (order is almost never significant and
    trackers permute it), drop a trailing lone '?'. Pure
    split/sort/regexp expressions, engine-portable and codegen-side.
    Scope: http(s) URLs; percent-encoding normalization and tracker-
    param stripping are policy layers above this mechanical core."""
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.regexp_replace(hostport, r":80$", ""),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.regexp_replace(hostport, r":443$", ""),
    ).otherwise(hostport)
    # path = everything between host and the first '?'; query = after it
    path = F.regexp_extract(rest, r"^[^/?]*([^?]*)", 1)
    query = F.when(
        rest.contains("?"),
        F.regexp_replace(rest, r"^[^?]*\?", ""),
    ).otherwise(F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(
            F.lit("")
        ),
    )


def normalize_percent_encoding(col: Column | str) -> Column:
    """Percent-encoding normalization (r13) — the last documented layer
    of the URL-canonicalization stack (:func:`canonicalize_url` scopes
    it out of its mechanical core): per RFC 3986 §2.3/§6.2.2, decode
    escapes of UNRESERVED characters (ALPHA / DIGIT / ``-._~`` —
    ``%41`` → ``A``, ``%7e`` → ``~``) and UPPERCASE the hex of every
    escape that must stay encoded (``%3f`` → ``%3F``); real crawl URL
    dedup hits both constantly (over-encoding and mixed-case hex are
    the two spellings proxies and templating engines disagree on).
    Reserved characters are never decoded — decoding ``%3F`` would
    conjure a new ``?`` and change parsing — so this composes safely
    BEFORE :func:`canonicalize_url` → :func:`strip_tracking_params`.
    Malformed escapes (``%`` not followed by two hex digits) pass
    through verbatim, the lenient posture every canonicalizer takes.
    Pure codegen: one split on ``%``, one transform re-joining the
    pieces — scan-stage at 100 TB, no UDF."""
    u = F.col(col) if isinstance(col, str) else col
    parts = F.split(u, "%", -1)

    def fix(p: Column) -> Column:
        hx = F.upper(F.substring(p, 1, 2))
        valid = hx.rlike("^[0-9A-F]{2}$")
        v = F.conv(hx, 16, 10).cast("int")
        unreserved = (
            ((v >= 65) & (v <= 90))
            | ((v >= 97) & (v <= 122))
            | ((v >= 48) & (v <= 57))
            | v.isin(45, 46, 95, 126)  # - . _ ~
        )
        rest = p.substr(F.lit(3), F.length(p))
        return (
            F.when(valid & unreserved, F.concat(F.char(v), rest))
            .when(valid, F.concat(F.lit("%"), hx, rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
    return F.concat(
        F.element_at(parts, 1), F.array_join(F.transform(tail, fix), "")
    )


# Exact-name click/campaign identifiers stripped alongside the utm_*
# prefix family — the tracker set every major list (AdGuard, uBlock,
# browser "copy clean link" features) agrees on. Param NAMES only;
# values never inspected.
TRACKING_PARAM_NAMES = (
    "fbclid", "gclid", "dclid", "msclkid", "twclid", "yclid",
    "igshid", "mc_cid", "mc_eid", "wbraid", "gbraid", "_hsenc",
    "_hsmi", "s_cid", "ref_src",
)


def strip_tracking_params(col: Column | str) -> Column:
    """Remove tracking query parameters (r12) — the policy layer
    :func:`canonicalize_url` documents as sitting above its mechanical
    core: the ``utm_*`` campaign family by prefix plus the exact-name
    click-id set (:data:`TRACKING_PARAM_NAMES`). Two spellings of the
    same page that differ only in tracker params become one dedup key
    when this composes with canonicalization (canonicalize-then-strip
    is the fragment-safe order: the fragment is gone before the query
    is parsed; already-sorted params stay sorted after filtering).
    Parameter order is preserved (canonicalize owns ordering); a
    query left empty loses its ``?``; URLs without a query pass
    through untouched. Pure split/filter/join expressions,
    codegen-side — scan-stage at 100 TB."""
    u = F.col(col) if isinstance(col, str) else col
    base = F.regexp_replace(u, r"\?.*$", "")
    query = F.when(
        u.contains("?"), F.regexp_replace(u, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))

    def keep(p):
        name = F.split(p, "=").getItem(0)
        return ~(
            name.startswith("utm_")
            | name.isin(*TRACKING_PARAM_NAMES)
        )

    kept = F.filter(F.split(query, "&"), keep)
    return F.when(query == "", u).otherwise(
        F.concat(
            base,
            F.when(
                F.size(kept) > 0,
                F.concat(F.lit("?"), F.array_join(kept, "&")),
            ).otherwise(F.lit("")),
        )
    )


# Content-defined chunking constants (r13): a 16-char polynomial
# rolling window over base 131 mod the Mersenne prime 2^31-1 (products
# stay far under int64 — codepoint ≤ 2^21 × power < 2^31 ≈ 2^52, ANSI-
# safe), boundary where the window hash ≡ 0 mod 2^mask_bits (expected
# chunk ≈ 2^mask_bits chars past the window). ONE constant set shared
# with the generated oracle SQL so the two engines cannot drift.
CDC_WINDOW = 16
CDC_BASE = 131
CDC_MOD = 2**31 - 1
CDC_MASK_BITS = 6
CDC_POWERS = [pow(CDC_BASE, j, CDC_MOD) for j in range(CDC_WINDOW)]


def cdc_boundaries(text: str) -> list[int]:
    """Chunk-boundary positions (1-based, boundary falls AFTER the
    position) for one text under the CDC window rule — the numpy-
    vectorized kernel :func:`cdc_chunk_rows` maps over Arrow batches:
    decode to exact codepoints via UTF-32, sliding-window dot against
    the power vector (int64 products stay < 2^56), mod the Mersenne
    prime, mask test."""
    import numpy as np

    n = len(text)
    if n < CDC_WINDOW:
        return []
    codes = np.frombuffer(
        text.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    # window at 1-based position i covers chars i-w+1..i with weights
    # b^(w-1)..b^0 — reverse the power vector for the sliding dot
    pw = np.array(CDC_POWERS[::-1], dtype=np.int64)
    wins = np.lib.stride_tricks.sliding_window_view(codes, CDC_WINDOW)
    h = (wins @ pw) % CDC_MOD
    hits = np.nonzero(h % (1 << CDC_MASK_BITS) == 0)[0]
    return [int(i) + CDC_WINDOW for i in hits]


def cdc_clamped_cuts(
    hits: list[int], n: int, min_len: int, max_len: int
) -> list[int]:
    """FastCDC-style clamped boundary walk (r14): given the pure
    rule's candidate boundaries ``hits`` (sorted, 1-based exclusive
    ends) for a text of length ``n``, emit the ACCEPTED cut
    positions. Sequential by definition (each boundary depends on the
    previous — FastCDC's min-length skip), which is free inside the
    per-document kernel: iterations = number of chunks, not chars.

    Rule per chunk starting at ``s``: take the FIRST candidate ``h``
    with ``s + min_len <= h < s + max_len`` (and ``h < n``); if none,
    force a cut at ``min(s + max_len, n)``. Every chunk is therefore
    in ``[min_len, max_len]`` except the final tail, which may be
    shorter — the FastCDC convention. A content region that never
    hits the mask (e.g. a base64 blob with an unlucky alphabet)
    degenerates to exact ``max_len`` slabs instead of one
    mega-chunk."""
    import bisect

    cuts: list[int] = []
    s = 0
    while s < n:
        i = bisect.bisect_left(hits, s + min_len)
        if i < len(hits) and hits[i] < s + max_len and hits[i] < n:
            b = int(hits[i])
        else:
            b = min(s + max_len, n)
        cuts.append(b)
        s = b
    return cuts


def cdc_split(
    text: str,
    min_len: int | None = None,
    max_len: int | None = None,
) -> list[str]:
    """One text → its CDC chunks (concatenation is exactly the
    input; texts shorter than one window are a single chunk; empty
    text is one empty chunk). With ``min_len``/``max_len`` set (both
    or neither), boundaries take the FastCDC-style clamped walk of
    :func:`cdc_clamped_cuts` instead of the pure position-local
    rule."""
    if (min_len is None) != (max_len is None):
        raise ValueError("min_len and max_len must be set together")
    if len(text) == 0:
        return [""]
    hits = cdc_boundaries(text)
    if min_len is not None:
        if not 1 <= min_len <= max_len:
            raise ValueError(
                f"need 1 <= min_len <= max_len, got "
                f"({min_len}, {max_len})"
            )
        cuts = [0] + cdc_clamped_cuts(hits, len(text), min_len, max_len)
    else:
        cuts = [0] + [b for b in hits if b < len(text)] + [len(text)]
    return [text[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]


def cdc_chunk_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int | None = None,
    max_len: int | None = None,
) -> DataFrame:
    """Content-defined chunking (r13) — the Rabin-style boundary rule
    behind dedup-friendly storage and sub-document dedup: a chunk
    boundary falls AFTER position i whenever the polynomial hash of
    the trailing :data:`CDC_WINDOW` characters ≡ 0 mod
    2^:data:`CDC_MASK_BITS`. Boundaries depend only on LOCAL content,
    so an insertion early in a document re-chunks at most one window
    past the edit and every later chunk is byte-identical — the
    shift-invariance that makes chunk-level exact dedup collapse
    near-identical documents where doc-level hashing sees two
    distinct blobs. Returns ``(id, chunk_idx, chunk)`` rows whose
    per-doc concatenation is exactly the input.

    Default is the PURE position-local rule (no min/max chunk
    clamps): FastCDC's min-length skip makes each boundary depend on
    the previous one; the unclamped rule is position-parallel and
    engine-portable, with expected chunk length 2^mask_bits. Passing
    ``min_len``/``max_len`` (r14, opt-in) switches to the clamped
    walk of :func:`cdc_clamped_cuts` — sequential PER DOCUMENT,
    which the per-doc kernel already is, so the clamp costs one
    bisect per emitted chunk and nothing distributed changes. One
    Arrow-batched ``mapInPandas`` pass with a numpy sliding-window
    dot per document (the q_ts_ewma precedent: a per-position
    sequential/windowed fold is exactly the shape the interpreted
    HOF path does worst — the expression form measured 30-70 s for
    5k docs where this lane takes ~0.2 s); scan-stage at 100 TB, no
    shuffle."""
    if (min_len is None) != (max_len is None):
        raise ValueError("min_len and max_len must be set together")
    if min_len is not None and not 1 <= min_len <= max_len:
        raise ValueError(
            f"need 1 <= min_len <= max_len, got ({min_len}, {max_len})"
        )
    schema = StructType(
        [
            df.schema[id_col],
            StructField("chunk_idx", IntegerType(), False),
            StructField("chunk", StringType(), True),
        ]
    )

    def rows(r):
        doc_id, text = r
        chunks = cdc_split(text or "", min_len=min_len, max_len=max_len)
        for j, chunk in enumerate(chunks):
            yield doc_id, j, chunk

    return per_row_stage(df.select(id_col, text_col), schema, rows)


# Unicode script ranges (BMP core blocks — the ranges that decide
# real crawl routing; combining marks / supplementary planes are out
# of contract). Built with chr() so Spark (Java regex) and any oracle
# engine receive the IDENTICAL literal character-class pattern — no
# per-dialect escape syntax to drift.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z\u00c0-\u024f",
    "cyrillic": "\u0400-\u04ff",
    "greek": "\u0370-\u03ff",
    "cjk": "\u4e00-\u9fff\u3040-\u30ff\uac00-\ud7af",
    "arabic": "\u0600-\u06ff",
    "hebrew": "\u0590-\u05ff",
}

def script_counts(col: Column | str) -> dict[str, Column]:
    """Per-script character counts (r12) — the writing-system prior
    every multilingual crawl router needs BEFORE n-gram language ID
    (``lang_id``'s trigram tables are per-language; scripts partition
    the decision space first, and mixed-script text is itself a spam
    signal). One ``regexp_count`` per script over literal BMP block
    classes (:data:`SCRIPT_RANGES` — Latin incl. the ±supplements,
    Cyrillic, Greek, CJK ideographs + kana + hangul, Arabic, Hebrew);
    codegen-side, scan-stage at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        name: F.regexp_count(c, F.lit(f"[{rng}]"))
        for name, rng in SCRIPT_RANGES.items()
    }


def dominant_script(col: Column | str) -> Column:
    """The script with the highest character count; ties (and all-zero
    text) resolve to the EARLIEST entry in :data:`SCRIPT_RANGES` order
    — deterministic, so the whole column hash-compares cross-engine."""
    counts = script_counts(col)
    names = list(counts)
    top = F.greatest(*[counts[n] for n in names])
    out = F.lit(names[-1])
    for n in reversed(names[:-1]):
        out = F.when(counts[n] >= top, F.lit(n)).otherwise(out)
    return out


# Character-trigram profiles per language (r13) — the upgrade the
# stopword heuristic (``lang_id``) and the script prior
# (``dominant_script``) were built to front: real multilingual crawl
# routing keys on trigram statistics (the textcat / langid.py family),
# not stopword lists. Each profile is a small set of the language's
# most characteristic trigrams over ' '-padded lowercase text (space
# marks word boundaries — " th"/"he " carry most of the signal).
# Deliberately compact: the operator's job is the PLUMBING (integer
# overlap scores for N languages in one codegen pass); swap in bigger
# profiles freely. This dict is the single source of truth — the
# oracle SQL is GENERATED from it (the script_counts pattern), so the
# two engines can never drift.
TRIGRAM_PROFILES: dict[str, list[str]] = {
    "en": [" th", "the", "he ", " an", "and", "nd ", "ing", "ng ",
           " of", "of ", " to", "to ", "ed ", " in", "in ", "ion",
           "is ", "at ", " wi", "ith"],
    "de": ["der", " de", "ie ", "die", "und", " un", "ein", " ei",
           "ich", "ch ", "sch", " sc", "ung", "cht", "ver", "gen",
           "ten", " da", "das", "ber"],
    "es": [" de", "de ", "os ", " la", "la ", "el ", " el", "que",
           " qu", "ue ", "ar ", " co", "ció", "ión",
           "aci", "ado", " en", "nte", "do ", " es"],
    "fr": [" de", "de ", "es ", " le", "le ", "ent", "nt ", "et ",
           " et", " la", "la ", "ion", "on ", "re ", " qu", "que",
           "les", "des", " pa", "eur"],
    "it": [" di", "di ", "to ", "re ", "che", " ch", "he ", "zio",
           "ion", "one", "ne ", " co", "del", " de", "lla", "ell",
           "ta ", "la ", " pe", "per"],
    "pt": [" de", "de ", "os ", " qu", "que", "ue ", "ão ",
           "ção", "açã", " co", "ent", "es ",
           "ar ", " pa", "par", "ra ", "da ", " da", "em ", " um"],
}

# Scripts where the writing system alone decides the language label in
# this compact profile set; Latin falls through to the trigram argmax.
_SCRIPT_LANG: dict[str, str] = {
    "cyrillic": "ru",
    "greek": "el",
    "cjk": "zh",
    "arabic": "ar",
    "hebrew": "he",
}


def char_trigrams(col: Column | str) -> Column:
    """All character trigrams of ``' ' || lower(text) || ' '`` as an
    array (positions 1..n-2) — the shared input unit for
    :func:`trigram_hits`. The space padding makes word-boundary
    trigrams fire at the edges; texts shorter than one trigram yield
    an empty array. Pure column expressions, and deliberately NOT
    ``substr(t, i, 3)`` over a position sequence: UTF8String substring
    is multibyte-aware so each call re-scans from the head — O(n²)
    per document (measured 4.6× slower at 1k chars). Splitting to a
    char array once makes every position O(1)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    return let_(
        F.split(t, ""),
        lambda cs: F.when(
            F.size(cs) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(cs) - 3),
                lambda i: F.concat(
                    F.element_at(cs, i + 1),
                    F.element_at(cs, i + 2),
                    F.element_at(cs, i + 3),
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def trigram_hits(col: Column | str, *, trigrams: bool = False) -> dict[str, Column]:
    """Per-language integer overlap scores: for each profile in
    :data:`TRIGRAM_PROFILES`, the number of the document's trigram
    POSITIONS whose trigram is in the profile — a multiset overlap,
    so longer matching text scores proportionally higher (the
    integer-lane discipline DSIR uses; no floats, so the whole column
    hash-compares cross-engine). One codegen filter per language —
    scan-stage at 100 TB, no shuffle, no UDF.

    Pass ``trigrams=True`` when ``col`` already IS the trigram array
    (a :func:`char_trigrams` column materialized behind a projection
    boundary) — the multi-column form: referencing a bound column is
    free, so the array is computed once per row however many
    languages score it. The default text-column form binds the array
    with a per-expression let, which is right only when a SINGLE hit
    column is wanted (N hit columns would each re-derive the array —
    CollapseProject inlines aliases into every use site)."""

    def hit(p: list[str]):
        return lambda tg: F.size(F.filter(tg, lambda x: x.isin(p)))

    if trigrams:
        tg = F.col(col) if isinstance(col, str) else col
        return {
            lang: hit(profile)(tg)
            for lang, profile in TRIGRAM_PROFILES.items()
        }
    return {
        lang: let_(char_trigrams(col), hit(profile))
        for lang, profile in TRIGRAM_PROFILES.items()
    }


def lang_from_trigram_hits(
    hits: dict[str, Column], script: Column
) -> Column:
    """Combine precomputed per-language hit counts with the
    writing-system prior into the final label: single-language scripts
    map directly (cyrillic → ru, greek → el, cjk → zh, arabic → ar,
    hebrew → he — the same CJK-short-circuit posture as ``lang_id``);
    Latin-script text routes to the trigram argmax, ties resolving to
    the EARLIEST profile in :data:`TRIGRAM_PROFILES` order, zero
    evidence yielding 'und'. Cheap comparisons only — feed it bound
    columns, not expression trees."""
    names = [n for n in TRIGRAM_PROFILES if n in hits]
    best = F.greatest(*[hits[n] for n in names])
    label = F.lit("und")
    for lang in reversed(names):
        label = F.when(hits[lang] >= best, F.lit(lang)).otherwise(label)
    latin = F.when(best > 0, label).otherwise(F.lit("und"))
    out = latin
    for s, lang in _SCRIPT_LANG.items():
        out = F.when(script == s, F.lit(lang)).otherwise(out)
    return out


def lang_id_trigram(col: Column | str) -> Column:
    """Trigram language identification composed with the writing-system
    prior (r13) as ONE self-contained expression — the ad-hoc
    convenience twin of the multi-column pipeline
    (``char_trigrams`` column → ``trigram_hits(..., trigrams=True)``
    → :func:`lang_from_trigram_hits`), which is what a wide query
    should use. Double let-binding keeps it one-pass: the trigram
    array binds once, then the hit counts bind once as a struct, so
    the argmax's many references stay free instead of re-deriving
    filters per reference. Deterministic everywhere, so the label
    column hash-compares cross-engine."""
    c = F.col(col) if isinstance(col, str) else col
    script = dominant_script(c)

    def score(tg: Column) -> Column:
        hits = trigram_hits(tg, trigrams=True)
        return let_(
            F.struct(*[hits[n].alias(n) for n in TRIGRAM_PROFILES]),
            lambda h: lang_from_trigram_hits(
                {n: h.getField(n) for n in TRIGRAM_PROFILES}, script
            ),
        )

    return let_(char_trigrams(c), score)


def parse_robots(text: str, agent: str = "*") -> list[dict]:
    """Parse a robots.txt body into the rule list that applies to
    ``agent`` (RFC 9309 essentials): ``#`` comments stripped,
    consecutive ``User-agent`` lines share one group, the most
    specific matching group wins (exact product token, else ``*``),
    groups for the same agent merge, empty ``Disallow:`` is a no-op.
    Each rule comes back as ``{"allow", "pattern", "regex", "plen"}``
    with the path pattern pre-compiled to an anchored regex (``*`` →
    ``.*``, trailing ``$`` honored) IN PYTHON — both engines then
    match the same literal regex string, so pattern translation can
    never drift cross-engine.

    Driver-side by design: robots files are a per-HOST dimension
    (model-sized at any corpus scale); the distributed piece is
    :func:`robots_match`."""
    import re as _re

    groups: list[tuple[list[str], list[tuple[int, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[int, str]] = []
    in_agents = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agents and cur_agents:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
            cur_agents.append(val.lower())
            in_agents = True
        elif key in ("allow", "disallow"):
            in_agents = False
            if val == "":
                continue  # empty Disallow = no restriction
            cur_rules.append((1 if key == "allow" else 0, val))
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    a = agent.lower()
    exact = [r for ags, rs in groups if a in ags for r in rs]
    wild = [r for ags, rs in groups if "*" in ags for r in rs]
    chosen = exact if any(a in ags for ags, _ in groups) else wild

    def to_regex(pattern: str) -> str:
        anchored_end = pattern.endswith("$")
        body = pattern[:-1] if anchored_end else pattern
        rx = "".join(".*" if ch == "*" else _re.escape(ch) for ch in body)
        return "^" + rx + ("$" if anchored_end else "")

    return [
        {
            "allow": allow,
            "pattern": pat,
            "regex": to_regex(pat),
            "plen": len(pat),
        }
        for allow, pat in chosen
    ]


def robots_match(
    urls: DataFrame,
    rules: DataFrame,
    url_id: str = "url_id",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Distributed robots.txt gating (r12): which crawl paths may be
    fetched, per RFC 9309 longest-match semantics. ``rules`` is the
    per-host rule dimension (``host, allow, pattern, regex, plen`` —
    the :func:`parse_robots` output exploded per host), model-sized
    and broadcast; ``urls`` is the corpus-sized side and is touched by
    exactly one broadcast join + one window.

    Most-specific-match: among rules whose regex matches the path,
    the LONGEST PATTERN (octet length, per the RFC — not matched-text
    length) decides; ties go to Allow; hosts with no rules, and paths
    matching nothing, are allowed. Returns ``(url_id, host, path,
    allowed, matched_pattern)`` with ``matched_pattern`` NULL when
    nothing matched."""
    j = urls.select(url_id, host_col, path_col).join(
        F.broadcast(rules), host_col, "left"
    )
    j = j.withColumn(
        "_m",
        F.when(
            F.col("regex").isNotNull()
            & F.expr(f"{path_col} rlike regex"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w = Window.partitionBy(url_id).orderBy(
        F.col("_m").desc(),
        F.col("plen").desc(),
        F.col("allow").desc(),
        F.col("pattern"),
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            url_id,
            host_col,
            path_col,
            (
                (F.col("_m") == 0)
                | F.col("_m").isNull()
                | (F.col("allow") == 1)
            ).alias("allowed"),
            F.when(F.col("_m") == 1, F.col("pattern")).alias(
                "matched_pattern"
            ),
        )
    )


# ---------------------------------------------------------------------------
# WARC record parsing (r11): the container ONE stage before gzip_ingest's
# WET member split — raw web crawls (Common Crawl, Internet Archive,
# wget --warc) ship as WARC 1.0/1.1 streams whose response records hold
# the HTTP transaction that strip_html / canonicalize_url then consume.
# Reference scope note: the reference pipeline ingests REST JSON only
# (reference etl/extract.py); crawl containers are [EXT] surface.
# ---------------------------------------------------------------------------


def warc_records(payload: bytes) -> list[dict]:
    """Parse one WARC stream into its records (stdlib-only, exact
    framing per ISO 28500): each record is a ``WARC/1.x`` version line,
    CRLF-terminated named headers up to a blank line, exactly
    ``Content-Length`` block bytes, then the spec's two-CRLF record
    separator. Both physical layouts are accepted: plain concatenated
    records, and the ``.warc.gz`` convention where every record is its
    own gzip member (detected by magic, split via :func:`gzip_members`
    — the layout that keeps records independently seekable, the reason
    the spec recommends it).

    ``response`` records whose Content-Type is ``application/http``
    have their block parsed one level further: HTTP status line +
    headers + body, yielding ``http_status``, the HTTP-level
    ``content_type`` and the body alone as ``body``; every other
    record type keeps its whole block as ``body``. Any framing
    violation (bad version line, missing blank line, short block,
    absent separator, unparseable Content-Length) raises ValueError —
    truncation must fail loud, not silently drop the tail of a shard.
    """
    if payload[:2] == b"\x1f\x8b":
        chunks = gzip_members(payload)
    else:
        chunks = [payload]
    out: list[dict] = []
    for chunk in chunks:
        pos = 0
        while pos < len(chunk):
            rec, pos = _parse_warc_record(chunk, pos)
            out.append(rec)
    return out


def _parse_warc_record(buf: bytes, pos: int) -> tuple[dict, int]:
    eol = buf.find(b"\r\n", pos)
    if eol < 0 or not buf[pos:eol].startswith(b"WARC/"):
        raise ValueError("bad WARC version line")
    version = buf[pos:eol].decode("ascii", "replace")
    if version not in ("WARC/1.0", "WARC/1.1"):
        raise ValueError(f"unsupported WARC version {version!r}")
    headers: dict[str, str] = {}
    pos = eol + 2
    while True:
        eol = buf.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("WARC headers not terminated")
        line = buf[pos:eol]
        pos = eol + 2
        if not line:
            break
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError("malformed WARC header line")
        headers[name.strip().decode("ascii", "replace").lower()] = (
            value.strip().decode("utf-8", "replace")
        )
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError("missing or unparseable Content-Length") from None
    if pos + length > len(buf):
        raise ValueError("WARC block shorter than Content-Length")
    block = buf[pos : pos + length]
    pos += length
    if buf[pos : pos + 4] != b"\r\n\r\n":
        raise ValueError("missing WARC record separator")
    pos += 4
    rec = {
        "warc_type": headers.get("warc-type", ""),
        "target_uri": headers.get("warc-target-uri"),
        "warc_date": headers.get("warc-date"),
        "http_status": None,
        "content_type": headers.get("content-type"),
        "body": block,
    }
    if rec["warc_type"] == "response" and str(
        headers.get("content-type", "")
    ).startswith("application/http"):
        status, ctype, body = _parse_http_response(block)
        rec["http_status"] = status
        rec["content_type"] = ctype
        rec["body"] = body
    return rec, pos


def _parse_http_response(block: bytes) -> tuple[int, str | None, bytes]:
    head, sep, body = block.partition(b"\r\n\r\n")
    if not sep:
        raise ValueError("HTTP response block missing header terminator")
    lines = head.split(b"\r\n")
    parts = lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError("bad HTTP status line in response record")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError("bad HTTP status code") from None
    ctype = None
    for line in lines[1:]:
        name, s, value = line.partition(b":")
        if s and name.strip().lower() == b"content-type":
            ctype = value.strip().decode("utf-8", "replace")
    return status, ctype, body


def warc_ingest(
    df,
    payload_col: str = "payload",
    id_col: str = "payload_id",
    on_error: str = "raise",
):
    """Decode WARC payloads into one row per record: ``(id,
    record_idx, warc_type, target_uri, warc_date, http_status,
    content_type, text)`` — ``text`` is the UTF-8 record body (HTTP
    body alone for response records). One Arrow-batched mapInPandas
    pass, same shape as :func:`gzip_ingest`: parsing runs where the
    bytes already are, no shuffle, and everything downstream (status
    filters, strip_html, canonicalize_url, token stats) stays in
    codegen expressions.

    ``on_error="raise"`` (default) is the strict certification
    contract; ``"skip"`` drops corrupt payloads whole — the crawl-
    shard quarantine mode, recoverable as a left_anti join on the id.
    """
    schema = StructType(
        [
            df.schema[id_col],
            StructField("record_idx", IntegerType(), False),
            StructField("warc_type", StringType(), False),
            StructField("target_uri", StringType(), True),
            StructField("warc_date", StringType(), True),
            StructField("http_status", IntegerType(), True),
            StructField("content_type", StringType(), True),
            StructField("text", StringType(), True),
        ]
    )

    def rows(r):
        pid, payload = r
        for j, rec in enumerate(warc_records(payload)):
            yield (
                pid, j, rec["warc_type"], rec["target_uri"],
                rec["warc_date"], rec["http_status"], rec["content_type"],
                rec["body"].decode("utf-8"),
            )

    return per_row_stage(
        df.select(id_col, payload_col), schema, rows, on_error=on_error
    )


def warc_build(records: list[dict], gzip_per_record: bool = False) -> bytes:
    """Serialize records to WARC 1.0 bytes (the encoder twin that makes
    the parser testable without fixtures on disk, and the writer a
    crawl-producing stage would use). Each record dict: ``warc_type``
    (required), optional ``target_uri``/``warc_date``/``content_type``
    /``http_status``/``http_content_type``, ``body`` bytes. When
    ``http_status`` is given the block is wrapped as an HTTP response
    (status line + Content-Type + Content-Length headers).
    ``gzip_per_record=True`` emits the ``.warc.gz`` member-per-record
    layout (mtime pinned to 0 so bytes are deterministic)."""
    import gzip as _gzip
    import io as _io

    out = []
    for rec in records:
        body = rec.get("body", b"")
        if rec.get("http_status") is not None:
            http_head = (
                f"HTTP/1.1 {rec['http_status']} "
                f"{_HTTP_REASONS.get(rec['http_status'], 'OK')}\r\n"
                f"Content-Type: {rec.get('http_content_type', 'text/html')}"
                f"\r\nContent-Length: {len(body)}\r\n\r\n"
            ).encode("ascii")
            block = http_head + body
            ctype = "application/http; msgtype=response"
        else:
            block = body
            ctype = rec.get("content_type", "text/plain")
        head = ["WARC/1.0", f"WARC-Type: {rec['warc_type']}"]
        if rec.get("target_uri"):
            head.append(f"WARC-Target-URI: {rec['target_uri']}")
        if rec.get("warc_date"):
            head.append(f"WARC-Date: {rec['warc_date']}")
        head.append(f"Content-Type: {ctype}")
        head.append(f"Content-Length: {len(block)}")
        raw = (
            "\r\n".join(head).encode("utf-8")
            + b"\r\n\r\n"
            + block
            + b"\r\n\r\n"
        )
        if gzip_per_record:
            buf = _io.BytesIO()
            with _gzip.GzipFile(
                fileobj=buf, mode="wb", mtime=0, compresslevel=6
            ) as f:
                f.write(raw)
            raw = buf.getvalue()
        out.append(raw)
    return b"".join(out)


_HTTP_REASONS = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}


def split_sentences(col: Column | str) -> Column:
    """Sentence segmentation (r11) → ``array<string>`` — the unit the
    sentence-level pipeline stages (boilerplate dedup, quality
    per-sentence scoring, pack-by-sentence) operate on. Rule-based and
    deliberately lookaround-free (RE2-portable, like
    :func:`strip_html`): a boundary is punctuation ``[.!?]`` followed
    by whitespace followed by a capital letter or digit — the
    capital-gate keeps abbreviation-internal periods ("men. at" /
    "e.g. x") inside their sentence, the standard cheap heuristic.
    Implemented as one capture-group regexp_replace that injects a
    control-char sentinel at each boundary plus one split — both
    codegen expressions, no UDF. Each sentence keeps its terminating
    punctuation; pieces are trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(
        c, r"([.!?])\s+([A-Z0-9])", "$1\x01$2"
    )
    return F.transform(F.split(marked, "\x01"), F.trim)


def _build_mojibake_map() -> list[tuple[str, str]]:
    """(corrupt, repaired) pairs for the classic double-encoding bug:
    UTF-8 bytes re-decoded as Windows-1252 ('Ã©' for 'é', 'â€œ' for a
    curly quote). Generated from the target characters themselves —
    ``t.encode('utf-8').decode('cp1252')`` IS the corruption — so the
    table cannot drift from the encodings it models. Targets whose
    UTF-8 bytes hit cp1252's five unmapped slots (0x81/8d/8f/90/9d —
    e.g. the right curly double quote) are excluded: their mojibake
    carries control characters no SQL literal should hold, and real
    repair tools special-case them too. Longest sources first so a
    3-byte sequence never half-matches after a 2-byte repair."""
    targets = "éèêëáíóúäöüçñ°ïÉÈÇ‘’“–—«»…€™"
    pairs = []
    for t in targets:
        try:
            corrupt = t.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue
        pairs.append((corrupt, t))
    pairs.sort(key=lambda p: len(p[0]), reverse=True)
    return pairs


MOJIBAKE_MAP = _build_mojibake_map()


def fix_mojibake(col: Column | str) -> Column:
    """Repair double-encoded text (r11) — the single most common crawl
    encoding defect: a UTF-8 page served or stored as Windows-1252 and
    re-encoded, leaving 'Ã©'-style two/three-char sequences where one
    accented char belongs. Table-driven sequence replacement over
    :data:`MOJIBAKE_MAP` (a curated, self-generating common-sequence
    table — NOT a general byte-level transcoder, which would need the
    raw bytes this column no longer has); each rule is one ``replace``
    expression, codegen-side, applied longest-source-first. Clean text
    passes through untouched — every source sequence is letterfrequency-
    impossible in real prose."""
    c = F.col(col) if isinstance(col, str) else col
    for corrupt, repaired in MOJIBAKE_MAP:
        c = F.replace(c, F.lit(corrupt), F.lit(repaired))
    return c
