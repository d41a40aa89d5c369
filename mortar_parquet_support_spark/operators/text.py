"""Text-analysis operators over a documents table (BASELINE.json:6).

All pure built-in expressions (regex + string + array functions), so every
operator is a zero-shuffle projection that rides along with any scan —
exactly what a 100 TB filter-and-score pass needs. Each helper returns a
Column so operators compose into one projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language ID. Deliberately small + hardcoded: deterministic and cheap.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "est", "pas", "des", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "en", "que", "por", "con", "para"],
}

_EN_STOPWORDS = _LANG_MARKERS["en"] + ["a", "an", "on", "with", "as", "at", "by", "be"]

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# the pre-tokenization regex family used by byte-pair encoders.
BPE_TOKEN_RE = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"


def whitespace_token_count(text: Column) -> Column:
    """Tokens by whitespace split (0 for empty/blank strings)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-style pre-tokens via regexp_count — an upper-bound
    estimate of encoded token count without shipping a tokenizer."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    # \p{L}/\p{N}: Java's bare \w is ASCII-only, which would count every
    # non-Latin LETTER as punctuation and zero quality_score for CJK text
    p = F.regexp_count(text, F.lit(r"[^\p{L}\p{N}_\s]"))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def upper_ratio(text: Column) -> Column:
    # \p{L}/\p{Lu}, not [A-Za-z]/[A-Z]: the ASCII classes scored all-caps
    # Cyrillic/Greek/accented text 0.0 (letter count 0), waving caps-spam
    # through any shouting filter — same reasoning as punct_ratio's classes
    n = F.regexp_count(text, F.lit(r"\p{L}"))
    u = F.regexp_count(text, F.lit(r"\p{Lu}"))
    return F.when(n > 0, u.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def digit_ratio(text: Column) -> Column:
    # \p{N}, not [0-9]: the ASCII class made non-ASCII digit spam
    # (Arabic-Indic, Devanagari) invisible to the quality score — neither
    # a digit NOR a punct penalty, since the punct class excludes \p{N}
    # too — the same blind spot punct_ratio/upper_ratio already fixed
    n = F.length(text)
    d = F.regexp_count(text, F.lit(r"\p{N}"))
    return F.when(n > 0, d.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def _lower_words(text: Column) -> Column:
    """The shared casefolded whitespace tokenization every word-level metric
    consumes. Materialize it ONCE as an intermediate column when combining
    metrics (see :func:`analyze` / :func:`score_quality`) — inlining it per
    metric multiplies the generated code and the per-row work."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _stopword_ratio_from_words(
    words: Column, stopwords: list[str] | None = None
) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or _EN_STOPWORDS)])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    total = F.size(words)
    return F.when(total > 0, hits.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords,
    computed with array ops — no explode."""
    return _stopword_ratio_from_words(_lower_words(text), stopwords)


def _quality_from_parts(n: Column, pr: Column, dr: Column, sw: Column) -> Column:
    """The documented fixed-weight quality formula over precomputed parts
    (length, punct ratio, digit ratio, stopword ratio). ``sw`` is referenced
    exactly once — ``least(1, sw*20)`` is value-identical to the published
    ``CASE WHEN sw > 0.05 THEN 1 ELSE sw*20 END`` for sw >= 0 — so callers
    that bind ``sw`` to an expensive expression don't pay it twice."""
    len_score = F.when(n < 20, n / F.lit(20.0)).when(n > 10000, F.lit(0.5)).otherwise(F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - pr * 4)
    digit_pen = F.greatest(F.lit(0.0), F.lit(1.0) - dr * 4)
    sw_score = F.least(F.lit(1.0), sw * 20)
    return F.round(
        len_score * 0.3 + punct_pen * 0.25 + digit_pen * 0.2 + sw_score * 0.25, 6
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low punct/digit
    noise, healthy stopword presence. Weights are fixed and documented so
    the score is stable across releases.

    Column form for composability; when scoring a whole frame prefer
    :func:`score_quality`, which materializes the shared subexpressions once
    instead of inlining them into one oversized projection."""
    return _quality_from_parts(
        F.length(text), punct_ratio(text), digit_ratio(text), stopword_ratio(text)
    )


def score_quality(
    df: DataFrame, *, text_col: str = "text", out_col: str = "quality"
) -> DataFrame:
    """DataFrame-level quality scoring with explicit common-subexpression
    reuse: length / punct / digit / stopword parts are bound as intermediate
    columns in one projection and the score is a second, tiny projection
    over them. Multi-referenced non-trivial aliases stop Catalyst's
    CollapseProject from re-inlining, so the generated code stays small —
    the column-inlined form of this same formula generated duplicated
    regex/array subtrees big enough to thrash the JIT code cache
    (13x slowdown observed at sf0.1 inside a long-lived session). The
    staging pattern is packaged for user pipelines as
    :func:`mortar_parquet_support_spark.functions.staged_columns` — this
    is its canonical in-repo use."""
    from mortar_parquet_support_spark.functions import staged_columns

    t = F.col(text_col)
    scored = staged_columns(
        df,
        {
            "__q_words": _lower_words(t),
            "__q_n": F.length(t),
            "__q_pr": punct_ratio(t),
            "__q_dr": digit_ratio(t),
        },
        {"__q_sw": _stopword_ratio_from_words(F.col("__q_words"))},
        {
            out_col: _quality_from_parts(
                F.col("__q_n"), F.col("__q_pr"), F.col("__q_dr"), F.col("__q_sw")
            )
        },
    )
    return scored.drop("__q_words", "__q_n", "__q_pr", "__q_dr", "__q_sw")


def _lang_id_from_words(words: Column) -> Column:
    scores = []
    for code in sorted(_LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[code]])
        hits = F.size(F.filter(words, lambda w: F.array_contains(markers, w)))
        scores.append(F.struct(hits.alias("hits"), F.lit(code).alias("code")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: count marker-stopword hits per language,
    pick the max (ties broken by language code order); 'und' when nothing
    matches. Pure array expressions."""
    return _lang_id_from_words(_lower_words(text))


def dup_word_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are repeats of an earlier token
    (0.0 for empty text) — the word-level leg of Gopher-style repetition
    filtering. Pure array expressions, zero shuffle."""
    words = _lower_words(text)
    n = F.size(words)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(words))).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def dup_ngram_ratio(text: Column, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats — catches boilerplate and
    looping generations that unique-word ratios miss (a doc cycling a
    10-word sentence has ~0 dup words per cycle but ~1.0 dup n-grams)."""
    words = _lower_words(text)
    count = F.greatest(F.size(words) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return F.when(
        count > 0,
        (count - F.size(F.array_distinct(grams))).cast("double") / count.cast("double"),
    ).otherwise(F.lit(0.0))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the casefolded, punctuation/whitespace-
    normalized text — robust to formatting-only edits. (Content-defined
    rolling-hash chunking belongs at the file layer; for document-granular
    dedup the normalized digest is the standard key.)"""
    # unicode letter/number classes: the ASCII class collapsed every
    # non-Latin document to md5('') — one giant false dup group
    normalized = F.trim(F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}]+", " "))
    return F.md5(normalized)


def rolling_hash(text: Column, *, window: int = 16, mod: int = 1 << 31) -> Column:
    """Karp-Rabin style rolling fingerprint set: polynomial hash of every
    ``window``-gram, keep the minimum (a 1-element winnowing sketch).
    Deterministic; JVM-side via higher-order functions."""
    n = F.length(text)
    idx = F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1)))

    def gram_hash(i):
        chars = F.transform(
            F.sequence(F.lit(0), F.lit(window - 1)),
            lambda j: F.coalesce(F.ascii(text.substr(i + j, F.lit(1))), F.lit(0)),
        )
        return F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, c: F.pmod(acc * 131 + c, F.lit(mod)),
        )

    # NULL text -> NULL, not 0: coalesce absorbs the NULL chars, so every
    # NULL doc would otherwise share fingerprint 0 with every empty doc —
    # one giant false near-dup group (fingerprint() propagates NULL the
    # same way; review r14)
    return F.when(text.isNotNull(), F.array_min(F.transform(idx, gram_hash)))


def analyze(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Text-analysis pass attaching all metrics. Staged so each shared
    subexpression — the casefolded word array, the punct/digit/stopword
    ratios — is computed exactly once and reused by every metric that needs
    it (the word array alone feeds stopword_ratio, quality and lang_id).
    Still a zero-shuffle narrow pipeline: the stages are projections that
    Catalyst keeps separate only because the shared aliases are
    multi-referenced, which is precisely the point."""
    t = F.col(text_col)
    # an input frame already holding a metric column (a re-run of analyze,
    # or a frame with its own 'quality') must not yield DUPLICATE output
    # columns — withColumns replaces in place, so the original projection
    # list has to drop the names re-emitted below
    _metric_names = {
        "n_tokens", "n_bpe_tokens", "punct_ratio", "stopword_ratio",
        "upper_ratio", "quality", "lang_guess", "fingerprint",
    }
    original = [c for c in df.columns if c not in _metric_names]
    staged = df.withColumns(
        {
            "__t_words": _lower_words(t),
            "n_tokens": whitespace_token_count(t),
            "n_bpe_tokens": bpe_token_count(t),
            "__t_pr": punct_ratio(t),
            "__t_dr": digit_ratio(t),
            "__t_ur": upper_ratio(t),
            "fingerprint": fingerprint(t),
        }
    )
    w = F.col("__t_words")
    staged = staged.withColumns(
        {
            "__t_sw": _stopword_ratio_from_words(w),
            "lang_guess": _lang_id_from_words(w),
        }
    )
    staged = staged.withColumn(
        "quality",
        _quality_from_parts(
            F.length(t), F.col("__t_pr"), F.col("__t_dr"), F.col("__t_sw")
        ),
    )
    return staged.select(
        *original,
        "n_tokens",
        "n_bpe_tokens",
        F.round("__t_pr", 6).alias("punct_ratio"),
        F.round("__t_sw", 6).alias("stopword_ratio"),
        F.round("__t_ur", 6).alias("upper_ratio"),
        "quality",
        "lang_guess",
        "fingerprint",
    )


def hashed_features(
    text: Column, *, n_buckets: int = 1 << 20, ngram: int = 2
) -> Column:
    """array<long> of hashed bag-of-n-gram feature ids (word uni..n-grams
    over the shared :func:`_lower_words` tokenization, hashed into
    ``n_buckets`` via the engine-portable md5-hex-slice arithmetic —
    DuckDB reproduces every id with ('0x' || substr(md5(g),1,8))::BIGINT
    % n_buckets). The feature-hashing trick (Weinberger et al.) is what
    makes linear text classifiers (fastText-style quality/toxicity/domain
    scorers) run without a vocabulary: fixed dimensionality, no
    train-time dictionary to ship. In-row (zero-shuffle) projection.

    The token array is referenced ~4x inside the gram builders — when
    composing into a wide projection, stage the tokenization once
    (functions.staged_columns) like :func:`linear_classifier_score` does,
    or the split/filter subtree duplicates per reference."""
    toks = F.filter(_lower_words(text), lambda w: w != "")
    return _hashed_gram_ids(toks, n_buckets=n_buckets, ngram=ngram)


def staged_tokens(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(id_col, __toks) with the shared casefolded tokenization bound ONCE
    in its own projection — the staging every gram consumer needs (the
    gram builders reference the token array ~4x and CollapseProject would
    re-inline the split/filter subtree per reference; see score_quality).
    One definition so the classifier, the embedder, and the DuckDB
    oracles mirroring them can't drift on the tokenizer."""
    return df.select(
        F.col(id_col),
        F.filter(_lower_words(F.col(text_col)), lambda t: t != "").alias(
            "__toks"
        ),
    )


def gram_strings(toks: Column, *, ngram: int) -> Column:
    """Word uni..n-gram STRINGS from an already-tokenized array column —
    the shared gram builder under hashed_features and
    embeddings.hashed_embedding (one definition, so the gram grammar
    can't drift between the classifier and the embedder)."""
    grams = [toks]
    for n in range(2, ngram + 1):
        # sequence(0, -k) counts DOWN (auto-negative step) — guard short
        # docs to an empty gram list instead (same footgun as dedup_lines)
        grams.append(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
    return F.concat(*grams) if len(grams) > 1 else grams[0]


def _hashed_gram_ids(toks: Column, *, n_buckets: int, ngram: int) -> Column:
    """hashed_features over an ALREADY-TOKENIZED array column (the
    stageable half: callers bind the token array once, this builds
    grams + ids from the binding)."""
    from mortar_parquet_support_spark.operators.dedup import md5_int

    # md5_int keeps the bit-for-bit-critical hash recipe in one place
    # (operators/dedup.py); bits=32 == an 8-hex-char md5 slice
    return F.transform(
        gram_strings(toks, ngram=ngram), lambda g: md5_int(g, bits=32) % n_buckets
    )


def linear_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    feature_col: str = "feature",
    weight_col: str = "weight",
    n_buckets: int = 1 << 20,
    ngram: int = 2,
    bias: float = 0.0,
    keep_columns: bool = False,
) -> DataFrame:
    """Logistic-linear classifier inference over hashed n-gram features —
    the distributed serving shape of a fastText-style quality filter:
    score = sigmoid(bias + mean(weight[h(g)] for gram g)). Returns
    (id_col, n_features, score) — one row per input row, documents with
    no tokens scoring sigmoid(bias) with n_features = 0 — or, with
    ``keep_columns``, all of ``df``'s columns plus the two.

    The corpus explodes to one row per gram occurrence, broadcast-joins
    the weight table (maybe_broadcast: hinted only while the estimate
    fits, sort-merge above it), and mean-pools per doc — the shuffle
    carries two doubles per document thanks to map-side partials.
    ``keep_columns`` re-joins the FULL rows (an id-keyed shuffle of the
    whole corpus including text). Features the table lacks weigh 0 but
    still count in the mean (standard hashing-trick inference; a sparse
    model stays sparse).

    A model carrying a duplicate feature id that some document's gram
    references is rejected AT ACTION TIME: an action that computes a
    score fails with Spark's ``USER_RAISED_EXCEPTION`` naming the id,
    before any weight can be double-counted; a duplicate no gram
    references cannot change a score and is tolerated. Aggregate the
    model to one weight per feature before scoring.

    sf10 profile (500k docs, local[32]): the cost is ~95% feature
    construction — gram-string build + explode fan-out 8.6s plus the
    cross-engine-portable md5 hash 3.4s of 13.9s total; the weights join
    adds ~0 (BroadcastHashJoin held at sf10, plan-asserted in
    tests/test_plans.py) and the sigmoid/agg is noise."""
    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    w = weights.select(
        F.col(feature_col).cast("long").alias("__fid"),
        F.col(weight_col).cast("double").alias("__w"),
    )
    # loud duplicate rejection, IN-PLAN since r15 — the r14 spelling ran
    # an eager groupBy+collect over the weights, i.e. one whole extra
    # Spark job per scoring call (a fixed ~0.2-0.3s of driver latency at
    # any scale). The model now aggregates to one row per feature inside
    # the same plan (map-side, model-sized), carrying its per-id count;
    # the score aggregate below raises AT EXECUTION the moment any doc
    # gram touches a feature whose count exceeds 1 — before that
    # feature's weight can be double-counted. A duplicate id NO gram
    # references is tolerated (it cannot affect any score) — and
    # Catalyst's projection deferral makes a weights-side raise
    # unreliable for exactly those unreferenced rows anyway. The
    # (count = 1) path passes the single weight through bit-identically.
    # Scope, stated precisely: the raise fires whenever a score is
    # COMPUTED (collect/write/any consumer of score or n_features); a
    # count()-style plan prunes the score column and skips the guard,
    # but it is also immune to the fan-out (per_doc groups back to one
    # row per document before the count), so no pruned plan can return
    # corrupted data.
    w = w.groupBy("__fid").agg(
        F.count(F.lit(1)).alias("__n"), F.max("__w").alias("__w")
    )
    guarded_w = F.when(
        F.col("__n") > 1,
        F.raise_error(F.concat(
            F.lit("duplicate feature id "),
            F.col("__fid").cast("string"),
            F.lit(
                " in weights — aggregate the model to one weight per "
                "feature before scoring"
            ),
        )),
    ).otherwise(F.coalesce(F.col("__w"), F.lit(0.0)))
    feats = staged_tokens(df, id_col=id_col, text_col=text_col).select(
        F.col(id_col),
        F.explode(
            _hashed_gram_ids(F.col("__toks"), n_buckets=n_buckets, ngram=ngram)
        ).alias("__fid"),
    )
    per_doc = (
        feats.join(maybe_broadcast(w), "__fid", "left")
        .groupBy(id_col)
        .agg(
            F.sum(guarded_w).alias("__z"),
            F.count(F.lit(1)).alias("n_features"),
        )
    )
    margin = F.lit(bias) + F.coalesce(
        F.col("__z") / F.col("n_features"), F.lit(0.0)
    )
    base = df if keep_columns else df.select(id_col)
    return (
        base.join(per_doc, id_col, "left")
        .withColumn("n_features", F.coalesce(F.col("n_features"), F.lit(0)))
        .withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))
        .drop("__z")
    )


def top_tokens(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 100,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-wide token frequencies, top-``k`` — the vocabulary-seeding
    pass for tokenizer training and OOV analysis. Returns (token, freq)
    ordered by freq desc, token asc (deterministic ties).

    One explode + one count aggregate: partial (map-side) aggregation
    shrinks the shuffle to the distinct-token set per partition, so the
    plan is scale-bound by vocabulary size, not corpus size; the final
    top-k is a TakeOrdered over the aggregated frame.
    """
    return _token_freqs(df, text_col, lowercase=lowercase).orderBy(
        F.col("freq").desc(), F.col("token").asc()
    ).limit(k)


def _token_freqs(
    df: DataFrame, text_col: str, *, lowercase: bool
) -> DataFrame:
    """Shared explode + empty-filter + count aggregation behind
    :func:`top_tokens` and :func:`unigram_counts` — ONE definition of the
    tokenize-and-count pipeline so a tokenization tweak cannot desync the
    vocabulary stats from the unigram model."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        df.select(F.explode(F.split(F.trim(text), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def unigram_counts(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Full corpus unigram table (token, freq) under the shared casefolded
    whitespace tokenization — the training pass for :func:`unigram_logprob`.
    Unlike :func:`top_tokens` there is no top-k truncation: a language model
    needs the whole vocabulary. Same scale shape: one explode + one count
    with map-side partial aggregation, shuffle bounded by vocabulary size."""
    return _token_freqs(df, text_col, lowercase=True)


def unigram_logprob(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: DataFrame | None = None,
    oov_freq: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram log-probability — the CCNet-style language
    -model quality signal used to bucket crawl text into head/middle/tail
    before training. Returns (id_col, n_tokens, avg_logprob) where
    ``avg_logprob = avg(ln(freq_token / total_tokens))`` over the document's
    tokens; higher (closer to 0) means more stereotypical text, very low
    values flag gibberish, and very HIGH values flag degenerate repetition
    of common words — both tails get dropped in a curation cascade.

    ``model`` is a (token, freq) frame from :func:`unigram_counts`; when
    None the corpus scores itself (no OOV possible). With an external
    model, unseen tokens back off to ``oov_freq`` pseudo-counts
    (``oov_freq`` is NOT added to the denominator — at crawl scale the
    OOV mass is negligible against the model total and keeping the
    denominator exact makes self-scoring reproduce the textbook formula).

    Documents whose text tokenizes to nothing produce no token rows and are
    absent from the result (mirror the behaviour in SQL with an inner join);
    callers wanting them back left-join this result onto their id column.

    Scale shape: the model is vocabulary-sized, so it broadcast-joins onto
    the exploded token stream — the corpus itself is never shuffled by
    token; the only corpus-sized shuffle is the per-document aggregate,
    shrunk by map-side partial aggregation to one row per (partition, doc).
    The grand total rides along as a broadcast single-row cross join rather
    than a driver-side collect, keeping the plan lazy and retry-safe.
    """
    if oov_freq <= 0:
        # F.log of a non-positive ratio yields NULL, which avg() silently
        # SKIPS while n_tokens still counts the token — a mixed OOV doc
        # would get a score over its in-vocab tokens only
        raise ValueError(f"oov_freq must be > 0, got {oov_freq}")
    if model is None:
        model = unigram_counts(df, text_col=text_col)
    total = model.agg(F.sum("freq").cast("double").alias("__total"))
    tokens = df.select(
        F.col(id_col), F.explode(_lower_words(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    scored = (
        # maybe_broadcast, not a forced hint: the model is VOCABULARY-
        # sized, and a crawl-scale self-scoring corpus blows past the
        # broadcast cap — the same shuffle fallback bigram_logprob's
        # unigram leg already uses (review r14)
        tokens.join(maybe_broadcast(model), "token", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log(
                F.coalesce(F.col("freq").cast("double"), F.lit(float(oov_freq)))
                / F.col("__total")
            ).alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("__lp"), 6).alias("avg_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_df: DataFrame | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean bigram log-probability with stupid backoff — the
    stronger sibling of :func:`unigram_logprob` (a real LM pipeline uses a
    KenLM-style n-gram model; a corpus-trained bigram with backoff is the
    same signal family, expressible entirely in engine-portable SQL
    arithmetic). Returns (id_col, n_tokens, avg_logprob) where the first
    token scores ``ln(cnt(w)/total)`` and each following token scores
    ``ln(cnt(w1,w2) / cnt_left(w1))`` when the bigram was seen, else the
    backoff ``ln(alpha * cnt(w2)/total)`` (Brants et al.'s unnormalized
    stupid backoff — cheap and rank-preserving, which is all a curation
    cascade consumes). ``cnt_left(w1)`` is w1's count as a bigram LEFT
    context (doc-final occurrences excluded), so seen-bigram
    probabilities are a proper conditional MLE.

    ``train_df`` holds the model corpus (default: ``df`` scores itself).
    Self-scoring never fires the bigram backoff — every scored bigram is
    in the model by construction — but single-token documents still take
    the unigram leg; with an external ``train_df``, unseen bigrams take
    the backoff and unseen unigrams the 0.5 pseudo-count (as in
    unigram_logprob). Empty/NULL documents produce no rows (inner-join
    semantics, like unigram_logprob).

    Scale shape: bigram PAIRS are formed in-row (one transform over the
    token array — the corpus is never exploded-then-shuffled to build
    context), and the bigram model joins on (w1, w2). The bigram table
    grows with observed-bigram cardinality, NOT vocab² — it broadcast-
    joins while it fits and falls back to a shuffle join above the
    planner's threshold, which is the honest shape at 100 TB where a
    5-gram model would likewise be a distributed table.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    train = train_df if train_df is not None else df
    if id_col not in train.columns:
        # the model build never uses doc ids (pairs reduce straight to
        # (w1, w2) counts), so a text-only reference corpus must not be
        # an accidental precondition failure (review r14); any unique id
        # satisfies doc_pairs' projection
        train = train.withColumn(id_col, F.monotonically_increasing_id())

    def doc_pairs(frame: DataFrame) -> DataFrame:
        arr = F.filter(_lower_words(F.col(text_col)), lambda w: w != "")
        base = frame.select(F.col(id_col), arr.alias("_a")).filter(
            F.size("_a") > 0
        )
        a = F.col("_a")
        pairs_all = F.transform(
            F.sequence(F.lit(0), F.size(a) - 2),
            lambda i: F.struct(
                F.get(a, i).alias("w1"), F.get(a, i + 1).alias("w2")
            ),
        )
        return base, (
            base.filter(F.size(a) >= 2)
            .select(F.col(id_col), F.explode(pairs_all).alias("p"))
            .select(
                F.col(id_col),
                F.col("p.w1").alias("w1"),
                F.col("p.w2").alias("w2"),
            )
        )

    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    uni = unigram_counts(train, text_col=text_col)
    total = uni.agg(F.sum("freq").cast("double").alias("__total"))
    _, train_pairs = doc_pairs(train)
    big = train_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bfreq"))
    left_tot = big.groupBy("w1").agg(F.sum("bfreq").alias("lfreq"))
    base, pairs = doc_pairs(df)
    a = F.col("_a")

    firsts = base.select(
        F.col(id_col), F.get(a, 0).alias("token")
    )
    # the unigram model is vocabulary-sized — same shuffle fallback as the
    # bigram table when a crawl-scale train_df blows past the threshold
    first_lp = (
        firsts.join(maybe_broadcast(uni), "token", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log(
                F.coalesce(F.col("freq").cast("double"), F.lit(0.5))
                / F.col("__total")
            ).alias("_lp"),
        )
    )
    pair_lp = (
        pairs.join(maybe_broadcast(big), ["w1", "w2"], "left")
        .join(maybe_broadcast(left_tot), "w1", "left")
        .join(
            maybe_broadcast(uni.withColumnRenamed("token", "w2")), "w2", "left"
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.when(
                F.col("bfreq").isNotNull(),
                F.log(
                    F.col("bfreq").cast("double")
                    / F.col("lfreq").cast("double")
                ),
            )
            .otherwise(
                F.log(
                    F.lit(float(alpha))
                    * F.coalesce(F.col("freq").cast("double"), F.lit(0.5))
                    / F.col("__total")
                )
            )
            .alias("_lp"),
        )
    )
    scored = first_lp.unionByName(pair_lp)
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )


def train_linear_classifier(
    df: DataFrame,
    *,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 20,
    ngram: int = 2,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
):
    """Distributed full-batch logistic training for the fastText-style
    hashed classifier — the TRAINING half of
    :func:`linear_classifier_score` (same tokenizer, same gram grammar,
    same mean-pooled model: ``p = sigmoid(bias + mean(w[h(g)]))``), so a
    quality/toxicity/domain filter trains and serves on one engine with
    zero feature skew. Returns ``(weights_df, bias)``: a
    (``feature``, ``weight``) frame feeding straight into the scorer,
    and the scalar bias.

    Gradient-descent shape per iteration (full batch, deterministic —
    zero init, no sampling):

    1. score: broadcast-join current weights onto the PRE-MATERIALIZED
       exploded feature table (one row per (doc, gram occurrence),
       weighted 1/m_doc) and mean-pool per doc — the serving plan;
    2. residuals ``p - y`` flow BACK over the same exploded table:
       ``grad[f] = sum(residual/m)`` over occurrences of ``f`` — one
       groupBy(feature) aggregate whose output is bounded by the distinct
       gram count, never the corpus;
    3. update ``w -= lr * (grad/n + l2*w)`` as a full-outer join of two
       model-sized frames (the corpus is NOT re-read — the feature table
       is materialized once up front), re-materialized each iteration to
       cut lineage (the LSH/closure discipline; a session checkpoint dir
       upgrades to reliable checkpoints on real clusters).

    The model never collects to the driver (only the scalar bias
    gradient does); weights stay a DataFrame end to end, so vocabulary
    size is bounded by ``n_buckets``, not driver memory. Docs with no
    tokens contribute only to the bias — same convention as the scorer
    (they score ``sigmoid(bias)``)."""
    from mortar_parquet_support_spark.functions import materialize
    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = df.sparkSession
    # staged_tokens' discipline (token array bound ONCE in its own
    # projection) with the label riding along — one corpus scan, no
    # re-join
    base = df.select(
        F.col(id_col),
        F.col(label_col).cast("double").alias("__y"),
        F.filter(_lower_words(F.col(text_col)), lambda t: t != "").alias(
            "__toks"
        ),
    )
    docs = base.select(
        F.col(id_col).alias("__id"),
        "__y",
        _hashed_gram_ids(F.col("__toks"), n_buckets=n_buckets, ngram=ngram).alias(
            "__f"
        ),
    ).withColumn("__m", F.size("__f"))
    docs = materialize(docs)
    n_docs = docs.count()
    if n_docs == 0:
        raise ValueError("train_linear_classifier: empty training frame")
    feats = materialize(
        docs.filter(F.col("__m") > 0).select(
            "__id",
            "__y",
            (F.lit(1.0) / F.col("__m")).alias("__inv_m"),
            F.explode("__f").alias("__fid"),
        ),
    )
    labels = docs.select("__id", "__y", "__m")

    from mortar_parquet_support_spark.functions import tiny_frame

    weights = tiny_frame(spark, [], "__fid long, __w double")
    bias = 0.0
    for _ in range(iters):
        scored = (
            feats.join(maybe_broadcast(weights), "__fid", "left")
            .groupBy("__id")
            .agg(
                F.sum(
                    F.coalesce(F.col("__w"), F.lit(0.0)) * F.col("__inv_m")
                ).alias("__dot")
            )
        )
        # materialize: resid feeds TWO actions (the bias-gradient scalar
        # and the weight-gradient aggregate), and lazily it would re-run
        # the dominant per-iteration cost — the corpus-sized
        # feats-join-weights scoring aggregate — once per consumer,
        # doubling training cost (review r14). The cut stores n_docs rows.
        resid = materialize(
            labels.join(scored, "__id", "left").select(
                "__id",
                (
                    F.lit(1.0)
                    / (F.lit(1.0) + F.exp(-(F.lit(bias) + F.coalesce("__dot", F.lit(0.0)))))
                    - F.col("__y")
                ).alias("__r"),
            ),
        )
        grads = (
            feats.join(resid, "__id")
            .groupBy("__fid")
            .agg(F.sum(F.col("__r") * F.col("__inv_m")).alias("__g"))
        )
        bias_grad = resid.agg(F.sum("__r")).first()[0] or 0.0
        bias -= lr * bias_grad / n_docs
        weights = materialize(
            weights.join(grads, "__fid", "full")
            .select(
                "__fid",
                (
                    F.coalesce("__w", F.lit(0.0))
                    - F.lit(lr)
                    * (
                        F.coalesce("__g", F.lit(0.0)) / F.lit(float(n_docs))
                        + F.lit(l2) * F.coalesce("__w", F.lit(0.0))
                    )
                ).alias("__w"),
            ),
        )
    return (
        weights.select(
            F.col("__fid").alias("feature"), F.col("__w").alias("weight")
        ),
        bias,
    )
