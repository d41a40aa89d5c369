"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (SURVEY.md §2.6 declares the absence); required by the
driver north star (BASELINE.json:6). Five families, each with a distinct
scale/recall tradeoff, all pure DataFrame ops (no Python in the hot path):

- exact:            hash-groupBy. One shuffle on the digest.
- minhash + LSH:    shingle -> minhash signature -> banded buckets ->
                    candidate pairs -> exact-Jaccard verify. The 100 TB
                    fuzzy-dedup workhorse: candidate generation is an
                    equi-join on (band, bucket-hash), never all-pairs.
- simhash:          64-bit bit-vote fingerprint; near-dups collide on
                    Hamming-adjacent fingerprints (checked via bands).
- n-gram Jaccard:   exact pairwise similarity, for verification / small
                    candidate sets (quadratic within a candidate group ONLY).
- embedding cosine: random-hyperplane LSH buckets + within-bucket cosine.

Determinism: every hash is either md5 (via a fixed-width hex slice) or
xxhash64 with a fixed seed; permutation parameters derive from a seeded
linear congruence — reruns and other engines can reproduce results exactly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mortar_parquet_support_spark.functions import (
    cosine_from_norms,
    materialize,
    vector_norm,
)

# Mersenne prime 2^31-1: modulus for minhash permutations. 31-bit keeps
# a*h+b under 2^63 (no ANSI long overflow) while giving minhash plenty of
# hash resolution.
_MERSENNE = (1 << 31) - 1


def md5_int(col: Column, *, bits: int = 60, salt: str | Column = "") -> Column:
    """Deterministic non-negative int from md5 hex (engine-portable:
    DuckDB reproduces it with the same hex-slice arithmetic). ``salt``
    may be a Column for callers whose salt is data (e.g. a sketch's
    per-row seed/depth parameters) — keeping the bit-for-bit-critical
    recipe in exactly one place."""
    salt_col = F.lit(salt) if isinstance(salt, str) else salt
    hexpart = F.substring(F.md5(F.concat(salt_col, col)), 1, bits // 4)
    return F.conv(hexpart, 16, 10).cast("long")


def exact_dedup(
    df: DataFrame,
    cols: Sequence[str],
    *,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Exact dedup: one digest-groupBy shuffle. Returns one row per distinct
    content: (keep_id = min id, digest, dup count). ``normalize`` lowercases
    and collapses whitespace/punctuation first (catches trivial variants)."""
    # NULL-vs-empty must hash differently, and a NULL in column i must not
    # collide with a NULL in column j: concat_ws SKIPS null parts, so
    # [(1, NULL, 'x')] and [(2, 'x', NULL)] would share a digest. Each part
    # coalesces to a sentinel no real cast("string") value can produce —
    # AFTER normalization, which would otherwise strip the sentinel's
    # control/punct bytes down to the word 'null' and collide NULL cells
    # with literal 'null'/'NULL' text.
    parts = [F.col(c).cast("string") for c in cols]
    if normalize:
        parts = [
            F.trim(F.regexp_replace(F.lower(p), r"[^\p{L}\p{N}]+", " "))
            for p in parts
        ]
    parts = [F.coalesce(p, F.lit("\x00<NULL>")) for p in parts]
    digest = F.md5(F.concat_ws("", *parts))
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _minhash_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """Seeded LCG-derived (a, b) pairs for h_i(x) = (a*x + b) mod M."""
    params = []
    state = seed & 0xFFFFFFFFFFFF
    for _ in range(num_perm):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig_0..sig_{n-1}) minhash signature columns.

    Shingle hashes are formed INSIDE each row — ``transform`` over shingle
    start offsets hashing the k word slots with ``xxhash64(w_i..w_{i+k-1},
    seed)`` (``get`` is NULL-safe past the end; no string concat
    materialized) — then exploded and min-aggregated per document. Because
    a document's shingle rows never leave their input partition, map-side
    partial aggregation collapses them BEFORE the exchange: the only
    shuffle carries ``num_perm`` longs per document regardless of document
    size. (The previous window-``lead`` formulation hash-partitioned the
    fully exploded words frame FIRST — a shuffle proportional to corpus
    word count, the scale bottleneck at 100 TB. This one is byte-identical
    in output — same xxhash64 inputs — measured equal on sf0.1 and ~1.6x
    faster cold.) No per-doc dedup of shingles: duplicate shingles cannot
    change a min, so the distinct would be a pure cost.

    Documents with fewer than ``shingle_words`` tokens keep one
    whole-document shingle (trailing slots NULL — xxhash64 skips nulls
    deterministically) so identical short docs still collide instead of
    vanishing from the signature set. NULL and EMPTY/whitespace-only
    documents produce NO signature row: every such doc would otherwise
    share one identical signature ([''] after the split) and all of them
    would land in the same LSH bucket in every band — the quadratic
    candidate blowup this filter exists to prevent, and one a cleaned web
    corpus hits at millions of empty-after-stripping docs. Route empties
    through exact_dedup instead (they are literal duplicates of each
    other; near-dup machinery adds nothing).
    """
    # '' boundary tokens removed via the btrim spelling (ws_tokens),
    # matching word_shingles (the exact-Jaccard verify stage): F.trim
    # strips only ASCII spaces, so a leading tab/newline used to yield a
    # phantom '' token that shifted every shingle hash here while the
    # verify stage scored the pair 1.0 — signature-vs-verify tokenization
    # drift that nondeterministically lost true candidates (review r14).
    # r15 replaced the HOF filter(lambda) with ws_tokens: same tokens,
    # but codegen'd instead of interpreted per row — this is the
    # corpus-heavy leg of the whole minhash pipeline. The emptiness
    # guard stays rlike: '\t' passes trim(text) != ''.
    from mortar_parquet_support_spark.functions import ws_tokens

    words = ws_tokens(F.col(text_col))
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(text_col).rlike(r"\S")
    ).select(F.col(id_col).alias("id"), words.alias("_w"))
    w = F.col("_w")
    n_shingles = F.greatest(F.size(w) - (shingle_words - 1), F.lit(1))

    def gram_hash(i):
        return F.pmod(
            F.xxhash64(*[F.get(w, i + j) for j in range(shingle_words)], F.lit(seed)),
            F.lit(_MERSENNE),
        )

    # Explode the shingle OFFSETS first, hash per row after: the previous
    # spelling built the whole hash array with F.transform and exploded it,
    # but higher-order-function lambdas are INTERPRETED per element (the
    # same tax ws_tokens removed from tokenization in r15), so every gram
    # hash paid an expression-tree walk. Exploding sequence(0, n-1) and
    # computing xxhash64 on the flat row keeps the hash inside whole-stage
    # codegen; the words array is never copied per shingle row — explode
    # and the projection pipeline within one codegen stage, and only
    # (id, h) reaches the aggregate. Byte-identical output (same xxhash64
    # inputs; r16 A/B: 0 differing rows, hashed stage 0.29s -> 0.18s,
    # signatures 0.84s -> 0.71s at sf0.1).
    exploded = base.select(
        "id", "_w", F.explode(F.sequence(F.lit(0), n_shingles - 1)).alias("_i")
    )
    hashed = exploded.select("id", gram_hash(F.col("_i")).alias("h"))
    # one F.expr per signature, not a Column operator chain: every Column
    # method is a py4j round-trip and the num_perm-ary loop was a
    # measurable slice of dedup_minhash's plan-BUILDING time (r17; the
    # correlated_pairs lesson). Integer literals parse to the same types
    # F.lit chose (INT when they fit, BIGINT above), and pmod promotion
    # is type-independent integer arithmetic — values are bit-identical.
    aggs = [
        F.expr(f"min(pmod({a} * h + {b}, {_MERSENNE})) AS sig_{i}")
        for i, (a, b) in enumerate(_minhash_params(num_perm, seed))
    ]
    return hashed.groupBy("id").agg(*aggs)


def _banded_frame(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_words: int,
    seed: int,
    barrier: bool = True,
) -> DataFrame:
    """(id, band, bucket) LSH frame: minhash signatures folded into
    ``bands`` band hashes and exploded one row per band. Materialized (see
    minhash_lsh_candidates for why an eager barrier beats persist under
    AQE). Same (num_perm, bands, seed) => same bucket space, so two
    corpora banded with identical parameters can equi-join directly —
    the basis of crosscorpus_dedup. Parameter validation lives in
    band_hashes (raised before any job runs, since building this lazy
    select calls it).

    ``barrier=False`` is for callers that consume the frame exactly ONCE
    (crosscorpus_dedup: each corpus's banded frame feeds one leg of one
    between-corpora join, r17): the barrier exists to stop a SELF-join
    from executing the signature pipeline twice, so a single-consumer
    caller paying an eager checkpoint job + a full materialized write of
    the banded frame gets nothing for it — the signature pipeline runs
    lazily, exactly once, inside the consuming job."""
    sigs = minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_words=shingle_words,
        num_perm=num_perm,
        seed=seed,
    )
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(*band_hashes(num_perm=num_perm, bands=bands, seed=seed))
        ).alias("band", "bucket"),
    )
    if not barrier:
        return banded
    return materialize(banded)


def band_hashes(*, num_perm: int, bands: int, seed: int) -> list[Column]:
    """One xxhash64 band-hash Column per band over ``sig_0..sig_{n-1}``
    signature columns — THE bucket space definition: everything that
    equi-joins on (band, bucket) (minhash_lsh_candidates,
    crosscorpus_dedup, incremental.MinHashIndex) shares this one
    formulation, so their buckets are mutually compatible by
    construction."""
    # bands > num_perm would make rows_per_band 0 — every band hash
    # degenerates to xxhash64(seed) (a CONSTANT), every doc lands in one
    # bucket, and the self-join goes quadratic with no error. A remainder
    # silently drops the trailing num_perm % bands signatures, quietly
    # changing recall; both are caller mistakes worth failing loudly on.
    if not 1 <= bands <= num_perm or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}): "
            "each band consumes num_perm/bands signature rows"
        )
    rows_per_band = num_perm // bands
    # one F.expr per band (py4j chatter, r17 — see minhash_signatures);
    # the seed parses as the same INT literal F.lit(seed) built, so the
    # xxhash64 inputs — hash-critical — are type-identical
    return [
        F.expr(
            "xxhash64("
            + ", ".join(
                f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + f", {seed})"
        )
        for b in range(bands)
    ]


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs sharing any band of
    their minhash signature. Returns (id_a, id_b) with id_a < id_b.

    Scale shape: signatures (one shuffle, see minhash_signatures), explode
    to (band, band_hash, id) — ``bands`` rows per doc — then a self-equi-
    join per bucket. Single-member buckets never join; hot buckets are
    split by AQE skew handling.

    The banded frame is materialized (eager localCheckpoint) before the
    self-join: AQE turns the join into a broadcast join when the frame is
    small, and a BroadcastExchange can't reuse the other side's
    ShuffleExchange — without the cut the whole signature pipeline (scan +
    shuffle + 64-way agg) executes TWICE. An eager checkpoint beats lazy
    ``persist()`` here: CacheManager plan-matching under AQE gave erratic
    2-20× slowdowns (measured), while a checkpoint is a hard barrier with
    stable cost. The frame is num_perm longs/doc (~0.5 KB) — orders of
    magnitude smaller than the corpus, safe to materialize even at 100 TB.
    A checkpoint dir set on the SparkContext makes every barrier a
    reliable ``checkpoint()`` on shared storage — the right mode on a
    real cluster (functions.materialize).
    """
    banded = _banded_frame(
        df,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_words=shingle_words,
        seed=seed,
    )
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )


def _shingle_token_rows(
    docs: DataFrame, shingle_words: int, *, distinct: bool = True
) -> DataFrame:
    """Distinct (id, tok) word-shingle token rows for an (id, _text)
    frame — value-identical to exploding ``word_shingles(_text)``: same
    ws_tokens word stream, same space-joined gram strings (``concat_ws``
    over k ``get`` slots equals ``concat_ws`` over the k-slice, and its
    NULL-skipping reproduces the short-document whole-text fallback),
    distinctness via dropDuplicates instead of array_distinct. Spelled
    with the explode-offsets pattern (the r16 minhash_signatures lesson)
    so gram construction stays inside whole-stage codegen — the
    word_shingles ``transform`` lambda is interpreted per element and
    measured 4.0s per corpus pass at sf0.1 where this is a fraction of
    that. A NULL ``_text`` doc emits ONE (id, NULL) row — word_shingles'
    NULL array carried through the row formulation (callers map it to a
    NULL size and exclude it from token joins). Columns other than
    ``_text`` ride along onto every token row of their document."""
    from mortar_parquet_support_spark.functions import ws_tokens

    keep = [c for c in docs.columns if c != "_text"]
    base = docs.select(*keep, ws_tokens(F.col("_text")).alias("_w"))
    # offsets 0..max(n-k, 0): n >= k gives the n-k+1 grams; n < k gives
    # one offset whose past-the-end gets are NULL and concat_ws skips
    # them — exactly word_shingles' whole-document fallback string.
    # greatest() skips the NULL size of a NULL-text doc (offset 0, tok
    # NULL below); explode_outer is belt-and-braces so no doc row can
    # ever vanish (an inner-join consumer would silently flip that
    # doc's pairs from the jaccard-1.0 NULL contract to dropped).
    ex = base.select(
        *keep,
        "_w",
        F.explode_outer(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("_w") - shingle_words, F.lit(0)),
            )
        ).alias("_i"),
    )
    tok = F.when(
        F.col("_w").isNotNull(),
        F.concat_ws(
            " ",
            *[F.get(F.col("_w"), F.col("_i") + j) for j in range(shingle_words)],
        ),
    )
    rows = ex.select(*keep, tok.alias("tok"))
    # ``distinct=False`` skips the per-(id, tok) dedup shuffle for
    # consumers whose downstream is dedup-invariant (contaminated_ids:
    # semi-join + distinct-id); set semantics callers keep the default.
    return rows.dropDuplicates(["id", "tok"]) if distinct else rows


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    df_b: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard for given (id_a, id_b) candidate pairs.
    Shingle tokens are computed ONLY for documents that appear in a pair,
    once per document (join first — at 100 TB the candidate set is orders
    of magnitude smaller than the corpus).

    Scoring is inverted-index counting in ONE shuffle: each candidate
    document joins the list of pairs it belongs to, is shingled, and
    every (pair, side, token) row goes to its pair's partition. There a
    (pair, token) group records which sides hold the token, and a second
    aggregate over the same partitioning counts |A|, |B| and |A ∩ B| per
    pair (a group IS one set element, so the both-sides count is the set
    intersection — the identity the dedup_minhash DuckDB oracle rests
    on). Intersection and union are exact integers, so the score equals
    the per-pair ``array_intersect`` formula bit for bit. A pair naming
    an id absent from its corpus is dropped; a NULL-text document has a
    NULL shingle set and its pairs score 1.0.

    With ``df_b`` (cross-corpus mode): ``id_a`` ids resolve against ``df``
    and ``id_b`` ids against ``df_b`` — each corpus is scanned once for
    its own side.

    Duplicates: ids are expected unique per side (minhash_signatures and
    simhash_dedup already merge duplicate ids upstream). A duplicated id
    is one document whose shingle set is the UNION of its copies' sets,
    so each pair naming it yields one row. A duplicated (id_a, id_b)
    input row is kept: every copy is output, each with the same score.

    ``pairs`` is read three times (the id_a and id_b pair lists, the
    per-pair copy count): callers pass a materialized frame. The result
    is LAZY and costs one run of the shingle fan-out per read, so a
    consumer reads it once. The per-document pair lists carry no join
    hint: AQE broadcasts them from their shuffle size when they fit under
    ``autoBroadcastJoinThreshold`` and keeps a shuffle join when not."""
    # side tags: 0 = the id_a document, 1 = the id_b document
    def side(key: str, tag: int) -> DataFrame:
        return pairs.select(
            F.col(key).alias("id"), "id_a", "id_b", F.lit(tag).alias("_s")
        )

    def fan_out(src: DataFrame, keyed: DataFrame) -> DataFrame:
        # one row per candidate document carrying its distinct pairs, so
        # the document is shingled once however many pairs it is in; the
        # inner join drops non-candidate documents BEFORE shingling
        lists = keyed.groupBy("id").agg(
            F.collect_set(F.struct("id_a", "id_b", "_s")).alias("_ps")
        )
        docs = src.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_text")
        ).join(lists, "id")
        return (
            _shingle_token_rows(docs, shingle_words, distinct=False)
            .select(F.explode("_ps").alias("_p"), "tok")
            .select("_p.*", "tok")
        )

    if df_b is None:
        rows = fan_out(df, side("id_a", 0).unionByName(side("id_b", 1)))
    else:
        rows = fan_out(df, side("id_a", 0)).unionByName(fan_out(df_b, side("id_b", 1)))
    # one marker row per input pair row (side 2): its count in the pair's
    # NULL-token group is the number of copies to output
    marks = pairs.select(
        "id_a", "id_b", F.lit(2).alias("_s"), F.lit(None).cast("string").alias("tok")
    )
    s = F.col("_s")
    # both aggregates need only (id_a, id_b) clustering: one exchange.
    # The per-token group dedupes tokens (a shingle repeated in a document,
    # a duplicated id's shared shingles), so the token rows skip their own
    # distinct shuffle.
    per_tok = (
        rows.unionByName(marks)
        .repartition("id_a", "id_b")
        .groupBy("id_a", "id_b", "tok")
        .agg(
            F.max((s == 0).cast("int")).alias("_in_a"),
            F.max((s == 1).cast("int")).alias("_in_b"),
            F.sum((s == 2).cast("int")).alias("_copies"),
        )
    )
    real = F.col("tok").isNotNull()
    in_a, in_b = F.col("_in_a") == 1, F.col("_in_b") == 1
    per_pair = (
        per_tok.groupBy("id_a", "id_b")
        .agg(
            F.max("_copies").alias("_copies"),
            F.max("_in_a").alias("_has_a"),
            F.max("_in_b").alias("_has_b"),
            F.count(F.when(real & in_a, 1)).alias("_na"),
            F.count(F.when(real & in_b, 1)).alias("_nb"),
            F.count(F.when(real & in_a & in_b, 1)).alias("_cnt"),
        )
        # both documents found in their corpus (a NULL-text document still
        # emits its one NULL-token row)
        .filter((F.col("_has_a") == 1) & (F.col("_has_b") == 1))
    )
    # 0 non-null tokens <=> word_shingles would be NULL (every real
    # document has >= 1 gram — the whole-text fallback guarantees it):
    # a NULL size, NULL intersection and NULL union, so the when() below
    # falls through to 1.0; zero-hit pairs score 0 hits
    la = F.when(F.col("_na") > 0, F.col("_na"))
    lb = F.when(F.col("_nb") > 0, F.col("_nb"))
    inter = F.when(la.isNull() | lb.isNull(), F.lit(None)).otherwise(F.col("_cnt"))
    scored = per_pair.select(
        "id_a",
        "id_b",
        "_copies",
        inter.cast("double").alias("_inter"),
        (la + lb).cast("double").alias("_sizes"),
    )
    union = F.col("_sizes") - F.col("_inter")
    return scored.select(
        "id_a",
        "id_b",
        F.when(union > 0, F.col("_inter") / union)
        .otherwise(F.lit(1.0))
        .alias("jaccard"),
        F.explode(F.sequence(F.lit(1), F.col("_copies"))).alias("_copy"),
    ).drop("_copy")


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: LSH candidates -> exact-Jaccard verify ->
    pairs >= threshold. The returned pair list feeds connected-components /
    keep-min-id policies downstream. ``shingle_words`` reaches BOTH stages
    (candidate generation and the exact verify) so the two can never drift
    — the same passthrough crosscorpus_dedup exposes.

    Cost profile (tools/profile_minhash.py -> PROFILE_MINHASH.json, r11):
    SIGNATURES dominate — 55% of wall at sf0.1 (1.34s of 2.45s) and 41%
    at sf10 (3.38s of 8.2s under 7.5% steal; the same pipeline measured
    5.8s in BENCH_SCALING's quieter spot run) — and ``num_perm`` is the
    knob: the sweep shows full-pipeline wall tracking it superlinearly
    (32: 1.7s / 64: 2.2s / 128: 3.9s at sf0.1), because every signature
    column is one more pmod(a*h+b) over EVERY shingle hash plus one more
    min-agg buffer slot. Banding is noise (<1s even at sf10), candidates
    and verify split the rest roughly evenly at default threshold. So:
    tune num_perm DOWN (with bands to match) before anything else when
    throughput matters more than recall granularity; the verify stage is
    exact and already pair-bounded, there is nothing to win there."""
    # Materialize the candidate pairs: jaccard_pairs reads them three
    # times (the two pair lists, the copy count) inside one verify plan;
    # without the cut each read re-executes the LSH candidate generation.
    # Eager, because a lazy checkpoint first computed by three racing
    # legs would duplicate that work. The pair set is the smallest frame
    # in the pipeline — always safe to cache.
    cands = materialize(
        minhash_lsh_candidates(
            df,
            id_col=id_col,
            text_col=text_col,
            num_perm=num_perm,
            bands=bands,
            shingle_words=shingle_words,
            seed=seed,
        ),
    )
    scored = jaccard_pairs(
        df,
        cands,
        id_col=id_col,
        text_col=text_col,
        shingle_words=shingle_words,
    )
    return scored.filter(F.col("jaccard") >= threshold)


def crosscorpus_dedup(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora — the incremental-crawl /
    contamination shape: score a NEW batch (``left``) against an EXISTING
    training set (``right``) without ever comparing either corpus to
    itself. Returns (id_a, id_b, jaccard) with ``id_a`` from ``left``,
    ``id_b`` from ``right``, jaccard >= threshold. Id spaces may overlap:
    ids are never compared across sides, only texts.

    Scale shape — both sides can be 100 TB:
    - each corpus builds minhash signatures independently (shuffle
      = ``num_perm`` longs/doc per corpus, see minhash_signatures);
    - the SAME (num_perm, bands, seed) puts both corpora in one bucket
      space, so candidates come from a banded-bucket EQUI-join BETWEEN
      the corpora — never all-pairs, no self-pairs, neither side
      broadcast, AQE splits hot buckets;
    - exact-Jaccard verify computes shingles only for candidate docs,
      one scan per side (jaccard_pairs cross-corpus mode).
    Compare ``decontaminate`` (curation.py), which broadcasts a SMALL
    eval set; this operator is the symmetric case where neither side fits
    in a broadcast.

    ``bands`` is the recall/cost dial: the default 16 (4 signatures per
    band) is the production setting; ``bands = num_perm`` (one signature
    per band) makes a J >= 0.5 miss probability (1-J)^num_perm — near
    certainty of full recall, bought with many more false-positive
    candidates for the verify stage (measured 4.7x slower at sf0.1 for
    identical output; the oracle-checked driver entry uses it for
    exactness, not as a recommendation)."""
    # barrier=False on both banded frames (r17): unlike the SELF-join in
    # minhash_lsh_candidates, each corpus's banded frame feeds exactly one
    # leg of one between-corpora join, so the signature pipelines run
    # lazily (once each) inside the candidate-materialize job instead of
    # paying two eager checkpoint jobs + two full banded-frame writes
    # first.
    lb = _banded_frame(
        left, id_col=id_col, text_col=text_col, num_perm=num_perm,
        bands=bands, shingle_words=shingle_words, seed=seed, barrier=False,
    ).alias("a")
    rb = _banded_frame(
        right, id_col=id_col, text_col=text_col, num_perm=num_perm,
        bands=bands, shingle_words=shingle_words, seed=seed, barrier=False,
    ).alias("b")
    # eager candidate barrier, as in minhash_dedup: jaccard_pairs reads
    # the pairs three times
    cands = materialize(
        lb.join(
            rb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(),
    )
    scored = jaccard_pairs(
        left, cands, id_col=id_col, text_col=text_col,
        shingle_words=shingle_words, df_b=right,
    )
    return scored.filter(F.col("jaccard") >= threshold)


def _simhash_fp_from_votes(votes: "list[Column]") -> Column:
    """64-bit fingerprint from per-bit vote Columns: bit b set iff
    vote_b > 0, reassembled as a sum of distinct bit weights (two's-
    complement wraparound on bit 63). THE one spelling of the vote→bit
    rule and the weight arithmetic, shared by the :func:`simhash` Column
    and simhash_dedup's exploded aggregate (r16 review) — the persisted-
    fingerprint bit-identity between the two paths is structural, not
    just test-pinned."""
    bit_exprs = [
        F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        * F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        for b, vote in enumerate(votes)
    ]
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out + e
    return out


def simhash(
    text: Column,
    *,
    bits: int = 64,
    seed: int = 42,
) -> Column:
    """64-bit SimHash fingerprint, fully JVM-side.

    Tokens -> xxhash64 -> per-bit weighted vote via higher-order functions:
    for each bit position the vote is Σ tokens (+1 if bit set else -1);
    fingerprint bit = vote > 0. Zero shuffle (pure projection)."""
    # same phantom-''-token discipline as minhash_signatures/word_shingles
    # (trim is ASCII-space-only; a leading tab would vote as a token),
    # via the codegen'd btrim spelling rather than an interpreted HOF
    # filter (r15; value-identical — see functions.ws_tokens). ws_tokens
    # gives an all-whitespace doc [''] where the old filter gave [], so
    # the guard below pins the HISTORICAL contract for content-free
    # inputs — fp 0 for empty/whitespace AND NULL text (NULL tokens
    # yield NULL votes, which fall through each bit's otherwise(0);
    # pinned by tests/test_jvm_batch.py::
    # test_simhash_content_free_contract_is_version_stable) —
    # because
    # simhash is public and its fingerprints are PERSISTED: a lake
    # banded across versions must not silently stop pairing its
    # content-free docs (review r15; in-repo callers filter such docs
    # before fingerprinting anyway).
    from mortar_parquet_support_spark.functions import ws_tokens

    tokens = F.when(
        text.rlike(r"\S"), F.array_distinct(ws_tokens(F.lower(text)))
    ).otherwise(
        F.when(text.isNotNull(), F.array().cast("array<string>"))
    )
    hashes = F.transform(tokens, lambda t: F.xxhash64(t, F.lit(seed)))
    def _vote(b: int) -> Column:
        # the lambda is invoked EAGERLY by F.aggregate (expression build
        # time), and its parameter list must be exactly (acc, x) — a
        # default-arg b would change the detected lambda arity
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    votes = [_vote(b) for b in range(bits)]
    return _simhash_fp_from_votes(votes)


def _validate_band_bits(band_bits: int) -> None:
    """A band_bits that does not divide 64 would silently ignore the high
    64 % band_bits fingerprint bits — pairs differing only there would be
    missed with no error, voiding the Hamming-coverage guarantee."""
    if not 1 <= band_bits <= 64 or 64 % band_bits != 0:
        raise ValueError(
            f"band_bits ({band_bits}) must divide 64: bands tile the "
            "fingerprint exactly"
        )


def _band_array(fp, band_bits: int):
    """THE 64-bit fingerprint band split — the bit-critical bucket-space
    definition shared by the self-join (:func:`fingerprint_band_pairs`)
    and the asymmetric between-frames leg (timeseries._band_pairs_between,
    the anticorrelated screen). One spelling, so band layout can never
    drift between legs (review r14; the r12 Pearson-aggregate rule)."""
    n_bands = 64 // band_bits
    return F.array(
        *[
            F.shiftrightunsigned(fp, b * band_bits).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
            for b in range(n_bands)
        ]
    )


def fingerprint_band_pairs(
    df: DataFrame,
    *,
    id_col: str,
    fp_col: str,
    band_bits: int = 16,
    skip_barrier: bool = False,
) -> DataFrame:
    """Hamming-band LSH over ANY 64-bit fingerprint column: split the
    fingerprint into 64/band_bits bands; rows sharing any band are
    candidate pairs (with n bands, covers ALL pairs within Hamming
    distance n-1 — pigeonhole: n-1 differing bits cannot touch every
    band). Shared by the text leg (:func:`simhash_dedup`) and the image
    leg (multimodal.image_dedup over pHash, round 12). Returns
    (id_a, id_b, fp_a, fp_b); candidate generation is an equi-join on
    (band, key), never all-pairs.

    ``skip_barrier=True`` (r16 as ``input_materialized``; renamed r17 per
    ADVICE — the name now states the EFFECT, not an assumed cause): the
    caller takes on the obligation that ``df`` is already behind an eager
    barrier (materialize/persist/checkpointed source). The internal
    barrier exists to stop an expensive fingerprint computation (simhash
    over a corpus) executing once per self-join leg; when the caller
    already cut the lineage — correlated_pairs materializes its signature
    table before banding — re-running a posexplode off a checkpoint is
    cheaper than a second eager action (~0.5-1s of fixed job-submission
    cost locally). Passing it WITHOUT an actual upstream barrier silently
    reintroduces the AQE double execution this guard exists to prevent —
    it changes no values, only how many times the upstream runs."""
    _validate_band_bits(band_bits)
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.posexplode(_band_array(F.col(fp_col), band_bits)).alias(
            "band", "key"
        ),
    )
    # same barrier as _banded_frame: both self-join legs consume the
    # fingerprint frame, and when AQE broadcasts one side the
    # BroadcastExchange cannot reuse the other side's exchange — without
    # the cut the upstream fingerprint computation runs TWICE
    if not skip_barrier:
        banded = materialize(banded)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_dedup(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    band_bits: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-dup candidates by SimHash banding: split the 64-bit fingerprint
    into 64/band_bits bands; docs sharing any band are candidates (with
    n bands, covers all pairs within Hamming distance n-1). Returns
    (id_a, id_b, simhash_a/b). Banding/join via
    :func:`fingerprint_band_pairs` (shared with the image-pHash leg).

    The fingerprint is computed via an EXPLODED formulation here (r16),
    not the :func:`simhash` Column: that spelling walks the token-hash
    array once per bit with interpreted ``aggregate`` lambdas — 64
    interpreted array folds per document, 16.5s at sf0.1 on this frame.
    Exploding the distinct tokens and summing each bit's ±1 vote in one
    codegen'd 64-way aggregate produces the SAME integer votes (same
    xxhash64 per distinct token, same ±1 per bit, integer sums — order-
    free), and the vote→bit reassembly is the SHARED
    :func:`_simhash_fp_from_votes` — bit-identity with the Column
    spelling is structural AND pytest-pinned (tests/test_jvm_batch.py);
    the shuffle carries 64 ints per doc, the minhash-signature shape.
    Like minhash_signatures' groupBy(id), DUPLICATE ids merge here
    (their token votes sum into one fingerprint) — ids are the dedup
    identity and must be unique, the family-wide contract. The
    :func:`simhash` Column stays public for projection-context callers
    (persisted-fingerprint pipelines that must not shuffle)."""
    # NULL or empty/whitespace text yields THE SAME fingerprint for every
    # such doc (all word hashes absent; identical votes) — without this
    # guard a corpus with N null/empty documents reports O(N^2) pairs and
    # resolve_duplicates deletes all but one. Same contract as
    # minhash_signatures: content-free text never participates in near-dup
    # candidacy (route it through exact_dedup).
    from mortar_parquet_support_spark.functions import ws_tokens

    base = df.filter(
        # rlike, not trim != '': trim strips only ASCII spaces, so a
        # corpus of tab/newline-only docs would bypass the guard and all
        # share one fingerprint — the O(N^2) blowup it exists to prevent
        F.col(text_col).isNotNull() & F.col(text_col).rlike(r"\S")
    ).select(
        F.col(id_col).alias("id"),
        # every doc here has >= 1 non-empty token (rlike \S => btrim
        # leaves content), so the groupBy below loses no document
        F.explode(
            F.array_distinct(ws_tokens(F.lower(F.col(text_col))))
        ).alias("_tok"),
    )
    # one F.expr per bit vote, not a Column operator chain (py4j chatter,
    # r17 — see minhash_signatures); the seed parses as the same INT
    # literal F.lit(seed) built, so the xxhash64 input — hash-critical —
    # is type-identical, and CASE/shiftright/& parse to the expressions
    # the Column spelling produced. Bit-identity with the simhash()
    # Column stays pinned by tests/test_jvm_batch.py over every fixture
    # document.
    votes = base.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(xxhash64(_tok, {seed}), {b})"
                f" & 1) = 1 THEN 1 ELSE -1 END) AS _v{b}"
            )
            for b in range(64)
        ]
    )
    with_fp = votes.select(
        "id", _simhash_fp_from_votes([F.col(f"_v{b}") for b in range(64)]).alias("fp")
    )
    return fingerprint_band_pairs(
        with_fp,
        id_col="id",
        fp_col="fp",
        band_bits=band_bits,
    ).select(
        "id_a",
        "id_b",
        F.col("fp_a").alias("simhash_a"),
        F.col("fp_b").alias("simhash_b"),
    )


def embedding_dedup(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    block_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH bucket (n_planes sign
    bits -> one of 2^n buckets), pairwise cosine WITHIN buckets only.

    The hyperplanes are pseudo-random but seed-deterministic, generated
    JVM-side from xxhash64(dimension_index, plane, seed) — no driver-side
    numpy state shipped to executors. Quadratic cost is confined to bucket
    population (expected n/2^planes), and AQE splits skewed buckets.

    ``n_planes=0`` is exact mode: all-pairs brute force — correct on any
    corpus size where O(n^2) is affordable, and the oracle-checkable
    ground truth for the LSH path's recall. Exact mode runs the r17
    block-pair formulation (:func:`_embedding_dedup_exact`): rows split
    into hash blocks, block pairs equi-join (parallel — the old
    single-bucket self-join serialized the whole corpus into one join
    task), and scoring is numpy-vectorized per Arrow batch with the
    bit-identical dimension-loop fold. ``block_rows`` sizes the blocks
    (None = scale-adaptive from the row count and parallelism); it can
    never change the output, only the task shape. It applies to exact mode
    only: passing it with ``n_planes > 0`` raises ``ValueError``."""
    if block_rows is not None and n_planes > 0:
        raise ValueError(
            "block_rows sizes exact mode's blocks; it has no effect with "
            f"n_planes={n_planes} (LSH buckets) — pass n_planes=0 or drop it"
        )
    if n_planes == 0:
        return _embedding_dedup_exact(
            df,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            block_rows=block_rows,
        )
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)
    plane_bits = []
    for p in range(n_planes):
        # pseudo-random ±1 weights per dimension; dot(vec, plane) sign
        signed = F.zip_with(
            F.col(vec_col),
            dim_idx,
            lambda v, i: F.when(
                F.pmod(F.xxhash64(i, F.lit(p), F.lit(seed)), F.lit(2)) == 1, v.cast("double")
            ).otherwise(-v.cast("double")),
        )
        dot = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        plane_bits.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = F.lit(0)
    for e in plane_bits:
        bucket = bucket + e
    # degenerate embeddings never enter candidacy: every NULL/empty vector
    # falls through each plane's when() to bucket 0, so N failed-pipeline
    # rows would self-join into ~N^2/2 pairs that only die AFTER cosine
    # scoring (review r14 — semantic_dedup and the minhash/simhash legs
    # all filter this class; this was the one sibling without the guard)
    # the norm is precomputed PER ROW and materialized with the bucket
    # (r16): the inline cosine_similarity spelling recomputed BOTH norms
    # per PAIR — O(pairs * dim) folds where O(rows * dim) suffices, 3x the
    # per-pair work inside the quadratic region this operator exists to
    # bound. vector_norm shares cosine_similarity's fold order, so
    # try_divide(dot, vnorm_a * vnorm_b) is bit-identical to the inline
    # formula (the IvfIndex build-time-norm contract; r16 A/B: 0 differing
    # rows, exact-mode entry 62s -> see OPTIMIZATION_r16.md)
    keyed = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        bucket.alias("bucket"),
        vector_norm(F.col(vec_col)).alias("vnorm"),
    )
    # barrier before the self-join (same reason as _banded_frame /
    # simhash_dedup): the n_planes-fold hyperplane aggregate is the
    # expensive expression, and an AQE broadcast of one leg would
    # recompute it over the whole corpus for the other
    keyed = materialize(keyed)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        cosine_from_norms(
            F.col("a.v"), F.col("b.v"), F.col("a.vnorm"), F.col("b.vnorm")
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def _embedding_dedup_exact(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_rows: int | None,
) -> DataFrame:
    """All-pairs cosine scoring, block-parallel and Arrow-vectorized —
    the exact mode of :func:`embedding_dedup` (r17; VERDICT r16 item 2).

    The r16 shape self-joined every row on one constant bucket: ONE join
    task scored all n^2/2 pairs, each paying an interpreted
    ``aggregate`` fold over the vectors (25.7s steady at sf0.1). Here:

    - rows are assigned a deterministic hash block
      (``pmod(xxhash64(id), n_blocks)``); each side explodes to its
      block-PAIR keys, so the join key space is ~n_blocks^2/2 ordered
      block pairs — parallel and balanced (guide §2.5: many more keys
      than partitions), never one giant key;
    - the joined pair rows are scored in ``mapInArrow`` with a
      DIMENSION-LOOP numpy accumulation: ``acc += A[:, j] * B[:, j]``
      for j in input order is element-for-element the same IEEE double
      sequence as functions.dot_product's left-to-right fold, so every
      cosine is bit-identical to the JVM expression it replaces;
    - the threshold filter stays a JVM ``Column >= lit`` ON the Python
      output, so NULL (zero norm -> try_divide NULL, dropped) and NaN
      (NaN compares greater than any number in Spark SQL, kept) keep
      exactly the r16 semantics. The scorer emits NULL (validity mask)
      where the norm product is 0.0, matching try_divide; everything
      else is plain IEEE division.

    Pairs today dropped IMPLICITLY by NULL cosine are dropped
    STRUCTURALLY here (same output): rows whose vector holds a NULL
    element (vector_norm NULL -> every pair NULL) or a NULL id (id
    comparison NULL in the old join) are filtered up front, and vectors
    of different lengths (zip_with pads with NULL -> NULL dot) never
    meet because the vector length is part of the join key.

    Memory note: a 10k-row Arrow batch carries two vectors per pair
    row; for very wide embeddings lower
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` to bound worker
    memory (guide §4.2)."""
    rows = (
        df.filter(
            F.col(vec_col).isNotNull()
            & (F.size(vec_col) > 0)
            & F.col(id_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.size(vec_col).alias("dim"),
            vector_norm(F.col(vec_col)).alias("vnorm"),
        )
        .filter(F.col("vnorm").isNotNull())
    )
    return _blocked_cosine_pairs(
        rows,
        threshold=threshold,
        block_rows=block_rows,
    )


def _blocked_cosine_pairs(
    rows: DataFrame,
    *,
    threshold: float,
    block_rows: int | None,
    bucket: bool = False,
) -> DataFrame:
    """Block-pair join + Arrow dimension-loop scoring over a prepared
    (id, v, dim, vnorm[, bucket]) frame — the engine of
    :func:`_embedding_dedup_exact`, shared with semantic_dedup's
    within-cell scoring (r17). ``rows`` must already be filtered to
    non-NULL ids and non-NULL-normed, non-empty vectors; with
    ``bucket=True`` pairs form only within equal ``bucket`` values, and
    the block count derives from the LARGEST bucket (r17 review), so
    small-cell corpora degrade to one block per bucket (the plain
    bucket equi-join shape) instead of a global fan-out."""
    # barrier: the frame feeds the stats action below plus both join
    # legs. LAZY on the localCheckpoint tier: the stats aggregate is the
    # single-consumer first action — it materializes the checkpoint, and
    # the join legs then read blocks; an eager barrier would be one
    # redundant job. The reliable tier is always eager.
    rows = materialize(rows, eager=False)
    # blocking statistics come from the LARGEST bucket, not the global
    # row count (r17 review): quadratic work is per bucket, so a global
    # n_blocks would make every row of a many-small-cells corpus fan out
    # to ~n_blocks/2 keys for nothing. Without buckets this is one
    # bucket of size n — the original formula.
    if bucket:
        stats = (
            rows.groupBy("bucket")
            .count()
            .agg(
                F.max("count").alias("_mx"), F.count(F.lit(1)).alias("_nb")
            )
            .first()
        )
        max_cell = int(stats["_mx"] or 0)
        n_buckets = max(int(stats["_nb"] or 0), 1)
    else:
        max_cell = rows.count()
        n_buckets = 1
    if block_rows is None:
        # scale-adaptive blocking: enough (bucket, block-pair) keys to
        # spread over the cluster (key count ~ n_buckets * n_blocks^2/2,
        # floored at 20x the partition count) while capping the explode
        # fan-out (rows * n_blocks) via a block-size floor of 8192 rows.
        # The choice shapes tasks only — output is blocking-invariant.
        par = rows.sparkSession.sparkContext.defaultParallelism
        n_blocks = max(
            -(-max_cell // 8192),
            int((40 * par / n_buckets) ** 0.5) + 1,
            1,
        )
    else:
        n_blocks = max(-(-max_cell // block_rows), 1)
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    base = rows.withColumn("blk", blk)
    bkey = ["bucket"] if bucket else []
    left = base.select(
        *bkey,
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("vnorm").alias("na"),
        "dim",
        F.col("blk").alias("p"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("q"),
    )
    right = base.select(
        *bkey,
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("vnorm").alias("nb"),
        "dim",
        F.col("blk").alias("q"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("p"),
    )
    # each unordered cross-block pair meets at exactly one (p, q) key
    # (p < q: a from block p, b from block q — the mirrored orientation
    # would need q < p keys the left side never emits); same-block pairs
    # meet twice plus self-pairs, cut by the id order filter exactly as
    # the old self-join condition did.
    cand = left.join(right, [*bkey, "dim", "p", "q"]).filter(
        (F.col("p") != F.col("q")) | (F.col("id_a") < F.col("id_b"))
    )
    scored_in = cand.select("id_a", "id_b", "va", "vb", "na", "nb")
    id_t = scored_in.schema["id_a"].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, cosine double"

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            va, vb = batch.column("va"), batch.column("vb")
            na = batch.column("na").to_numpy(zero_copy_only=False)
            nb = batch.column("nb").to_numpy(zero_copy_only=False)
            va_off = np.asarray(va.offsets)
            vb_off = np.asarray(vb.offsets)
            va_vals = np.asarray(va.values)
            vb_vals = np.asarray(vb.values)
            dims = np.diff(va_off)  # == vb's dims: dim is a join key
            cos = np.empty(batch.num_rows, dtype=np.float64)
            for d in np.unique(dims):
                idx = np.nonzero(dims == d)[0]
                ai = va_off[idx, None] + np.arange(d)[None, :]
                bi = vb_off[idx, None] + np.arange(d)[None, :]
                # cast BEFORE multiplying, like dot_product's per-element
                # cast("double") — a float32 product would round once in
                # float32 and once on the upcast, off the JVM value's bits
                A = va_vals[ai].astype(np.float64, copy=False)
                B = vb_vals[bi].astype(np.float64, copy=False)
                acc = np.zeros(len(idx), dtype=np.float64)
                # dimension-major accumulation: each pair's dot receives
                # its adds in index order 0..d-1 — the exact IEEE
                # sequence of dot_product's left-to-right fold
                for j in range(d):
                    acc += A[:, j] * B[:, j]
                denom = na[idx] * nb[idx]
                zero = denom == 0.0
                out = np.empty(len(idx), dtype=np.float64)
                np.divide(acc, denom, out=out, where=~zero)
                out[zero] = 0.0  # masked NULL below — never read
                cos[idx] = out
            # True -> NULL, matching try_divide's zero-denominator NULL
            mask = (na * nb) == 0.0
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id_a"),
                    batch.column("id_b"),
                    pa.array(cos, type=pa.float64(), mask=mask),
                ],
                names=["id_a", "id_b", "cosine"],
            )

    scored = scored_in.mapInArrow(score, out_schema)
    ordered = scored.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "cosine",
    )
    return ordered.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    threshold: float = 0.95,
    iters: int = 2,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style cluster-pruned near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then compare pairs only
    WITHIN a cluster. Returns (id_a, id_b, cosine) with cosine >= threshold
    — same shape as :func:`embedding_dedup`; feed to
    :func:`resolve_duplicates` to keep one document per near-dup group.

    vs embedding_dedup's hyperplane buckets: k-means cells adapt to the
    data distribution (dense regions split across more cells, empty space
    costs nothing), which is why the paper's pipeline holds up on web-crawl
    corpora. Recall misses only pairs straddling a cell boundary — the
    paper accepts this by construction (near-dup eps-balls are tiny
    relative to cluster diameter).

    Scale shape: centroid training and assignment reuse the IVF trainer
    (similarity.py) — within ``IvfIndex.MAX_DRIVER_CELLS`` each Lloyd pass
    and the final assignment are ONE zero-shuffle Arrow-batched corpus
    scan (closure-broadcast centroid matrix); above the bound the fully
    distributed broadcast-join path runs instead. The only wide operation
    is the cluster-keyed self-join — quadratic ONLY within a cell
    (expected n/n_clusters rows), AQE-split when a cell is hot.

    ``n_clusters=1`` is exact mode: one cell, all-pairs brute force — the
    same pair set as ``embedding_dedup(n_planes=0)`` and the ground truth
    for the pruned path's recall tests. NULL embeddings are dropped (they
    have no position in the space — same contract as ``IvfIndex.build``).
    """
    from mortar_parquet_support_spark.operators.similarity import (
        _assign_lists,
        _assign_lists_arrow,
        _centroids_fit_driver,
        _centroids_small_rows,
        ivf_centroids,
    )

    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    vecs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    cents = None
    if _centroids_fit_driver(df, vec_col, n_clusters):
        cent_rows = _centroids_small_rows(
            df, id_col=id_col, vec_col=vec_col, n_list=n_clusters,
            iters=iters, seed=seed,
        )
        assigned = _assign_lists_arrow(vecs, cent_rows)
    else:
        cents = ivf_centroids(
            df, id_col=id_col, vec_col=vec_col, n_list=n_clusters,
            iters=iters, seed=seed, _small=False,
        ).persist()
        cents.count()
        assigned = _assign_lists(vecs, F.broadcast(cents))
    # Within-cell scoring via the shared block-pair Arrow engine (r17;
    # _blocked_cosine_pairs): the r16 cell-keyed self-join evaluated the
    # interpreted cosine fold per PAIR — the same disease, and the same
    # bit-identical dimension-loop cure, as embedding_dedup's exact mode.
    # k-means cells are the few-LARGE-buckets regime the helper is for.
    # Its internal materialize doubles as the barrier before the join
    # (the Arrow assignment scan must not re-run per join leg). Rows the
    # old join dropped via NULL cosine (NULL-element vectors) or a NULL
    # id comparison are filtered structurally — same output.
    rows = (
        assigned.filter(F.col("id").isNotNull() & (F.size("v") > 0))
        .select(
            "id",
            "v",
            F.size("v").alias("dim"),
            vector_norm(F.col("v")).alias("vnorm"),
            F.col("list_id").alias("bucket"),
        )
        .filter(F.col("vnorm").isNotNull() & F.col("bucket").isNotNull())
    )
    pairs = _blocked_cosine_pairs(
        rows,
        threshold=threshold,
        block_rows=None,
        bucket=True,
    )
    if cents is not None:
        cents.unpersist()  # pairs is lineage-cut; the centroid plan is done
    return pairs


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Cluster duplicate pairs into components: (id, cluster_id) where
    cluster_id = min node id reachable in the undirected pair graph — the
    step that turns near-dup PAIRS into keep-one-per-cluster decisions.

    ``pairs`` is read once, by the materialized undirected edge set (each
    pair exploded into both directions), so a lazy pair frame such as
    :func:`minhash_dedup`'s runs once. Labels start at the minimum of a
    node and its neighbours, then min-label propagation runs to fixpoint;
    each round is one join + one aggregate on the (small, pairs-sized)
    label frontier, lineage cut by a checkpoint, plus one convergence
    check. A component whose every node is at most one hop from its
    minimum (a star around it, a clique) converges in ONE round; in
    general O(diameter) rounds — near-dup clusters are shallow, so this
    converges in a few rounds even on billion-edge pair sets.
    """
    both = F.array(
        F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
    )
    edges = materialize(
        pairs.select(F.explode(both).alias("e")).select("e.*").distinct(),
    )
    labels = edges.groupBy("u").agg(F.least("u", F.min("v")).alias("label"))
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # the OLD label rides the materialized frame (r17): the
        # convergence check is then a filter replayed off THIS
        # checkpoint instead of a join of two checkpointed frames —
        # one cheap scan per round where a join job used to run
        new_labels = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("__old"),
            )
        )
        new_labels = materialize(new_labels)
        converged = new_labels.filter(
            F.col("label") != F.col("__old")
        ).isEmpty()
        labels = new_labels.drop("__old")
        if converged:
            break
    else:
        # silently returning intermediate labels would split one true
        # cluster into several, each keeping its own "representative" —
        # duplicates would survive resolution with no warning
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (label propagation needs "
            "O(component diameter) rounds)"
        )
    return labels.select(F.col("u").alias("id"), F.col("label").alias("cluster_id"))


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """End-to-end dedup resolution: cluster the duplicate ``pairs``
    (connected components), keep each cluster's min-id member, and return
    the corpus WITHOUT the other cluster members — the final step after
    any candidate generator (minhash/simhash/embedding) + verify.

    Scale shape: components run on the pairs graph only (orders of
    magnitude smaller than the corpus); the drop set (cluster members
    minus representatives, a filter over the last label checkpoint)
    feeds one LEFT ANTI join against the corpus. It carries no join hint
    and costs no size probe: AQE broadcasts it from its actual size when
    it fits under ``autoBroadcastJoinThreshold`` and keeps a shuffle
    anti-join when a heavy dup rate makes it corpus-scale. In the
    broadcast regime the corpus is scanned once and never shuffled.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    drop = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4.1):
    mark every token position whose k-token shingle occurs at least
    ``min_count`` times ACROSS THE CORPUS (other docs or elsewhere in the
    same doc), then merge overlapping/adjacent marked windows per
    document. Returns one row per merged span: (id_col, ``span_start``,
    ``span_end``, ``n_grams``) with [start, end) token offsets into the
    casefolded whitespace tokenization — the input to a span-removal or
    span-masking pass. The reference formulation builds a suffix array
    over the concatenated corpus (single-node); the distributed
    re-expression is fixed-k shingle counting, which finds the
    duplicated substrings of length >= k at k-gram resolution UP TO
    60-bit hash collisions: grams are compared by ``md5_int``, so two
    distinct grams colliding both count as duplicated. Expected false
    marks ~ n_grams^2 / 2^61 — negligible through ~1e9 grams (<1 per
    billion-gram corpus), and at 1e13 grams (~100 TB) ~4e7 token
    positions, an ~4e-6 fraction of the corpus marked spuriously;
    removal-style consumers that need exactness at that scale should
    re-verify marked spans textually before deleting (review r14).

    Scale shape: shingles hash in-row to longs (md5_int — the shuffle
    carries 8-byte hashes, never text); ONE corpus-wide shuffle counts
    them with map-side partial aggregation; the duplicated-hash set joins
    back (broadcast while Catalyst's estimate fits, shuffle beyond); the
    island-merge window runs over HIT positions only — at a healthy dup
    rate that is orders of magnitude smaller than the corpus. The gram
    frame feeds two consumers (the count aggregate and the hit join), so
    it is cut with an eager checkpoint barrier — the same guard
    minhash/simhash use above: when the dup set broadcasts there is no
    exchange to reuse and the corpus-wide tokenize+hash scan would run
    twice. The cut stores (id, i, h) ≈ 24 B/token; on a real cluster a
    session checkpoint dir makes it a reliable checkpoint
    (functions.materialize). NULL-text and shorter-than-k documents
    never participate and produce no rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (1 would mark every token), got {min_count}"
        )
    from pyspark.sql import Window

    from mortar_parquet_support_spark.operators.text import _lower_words
    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    a = F.filter(_lower_words(F.col(text_col)), lambda w: w != "")
    base = df.select(F.col(id_col), a.alias("_a")).filter(F.size("_a") >= k)
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_a") - k),
                lambda i: md5_int(F.array_join(F.slice("_a", i + 1, k), " ")),
            )
        ).alias("i", "h"),
    )
    grams = materialize(grams)
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("h")
    )
    hits = grams.join(maybe_broadcast(dup), "h").select(id_col, "i")
    w = Window.partitionBy(id_col).orderBy("i")
    spans = (
        hits.withColumn(
            "_new",
            F.when(F.col("i") > F.lag("i").over(w) + k, 1).otherwise(0),
        )
        .withColumn("_g", F.sum("_new").over(w))
        .groupBy(id_col, "_g")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + k).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )
    return spans.select(id_col, "span_start", "span_end", "n_grams")


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a ``duplicate_spans`` result back onto the corpus: drop every
    token whose position falls inside any of the document's [span_start,
    span_end) intervals and rebuild the text — the removal half of Lee et
    al.'s ExactSubstr dedup (detect with ``duplicate_spans``, remove
    here). Returns one row per input document: (id_col, text_col rebuilt,
    ``n_tokens`` original token count, ``n_removed`` tokens dropped).

    The rebuilt text is the CASEFOLDED, whitespace-normalized
    tokenization joined by single spaces — span offsets index into that
    tokenization, so the rebuild must use it too (the same contract the
    ExactSubstr reference applies to its byte-offset removal). Documents
    with no spans pass through (normalized) with ``n_removed`` = 0;
    NULL-text documents keep NULL text with zero counts.

    Scale shape: spans aggregate per document into an in-row interval
    list (the span side is tiny — it only holds duplicated regions),
    broadcast-when-it-fits joins back onto the UNSHUFFLED corpus, and
    the positional filter runs in-row via nested higher-order functions
    — no corpus shuffle, no driver collect.
    """
    from mortar_parquet_support_spark.operators.text import _lower_words
    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    a = F.filter(_lower_words(F.col(text_col)), lambda w: w != "")
    base = df.select(F.col(id_col), a.alias("_a"))
    joined = base.join(maybe_broadcast(per_doc), id_col, "left")
    in_any_span = lambda i: F.coalesce(  # noqa: E731
        F.exists(
            F.col("_spans"),
            lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"]),
        ),
        F.lit(False),
    )
    kept = F.filter(F.col("_a"), lambda w, i: ~in_any_span(i))
    n_tokens = F.when(F.col("_a").isNull(), F.lit(0)).otherwise(
        F.size("_a")
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.when(F.col("_a").isNull(), F.lit(0))
        .otherwise(F.size("_a") - F.size(kept))
        .cast("long")
        .alias("n_removed"),
    )


def dedup_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    delimiter: str = "\n",
    normalize: bool = True,
) -> DataFrame:
    """C4-style corpus-level line deduplication (Raffel et al. 2020 §2.2
    discarded repeated three-sentence spans; its modern descendants —
    RefinedWeb, FineWeb — drop repeated LINES): any line whose normalized
    form (casefolded, trimmed) occurs at least ``min_count`` times across
    the WHOLE corpus is removed from every document, killing boilerplate
    (nav bars, cookie banners, license footers) that per-document dedup
    can't see. Returns (id_col, text_col rebuilt without the duplicated
    lines, ``n_lines`` original line count, ``n_removed``); a document
    whose every line was removed keeps an empty string. Empty/whitespace
    lines are never counted or removed — in BOTH normalize modes — because
    they carry document structure. ``delimiter`` is a LITERAL string (any
    regex metacharacters are neutralized before the split). NULL-text
    documents pass through untouched: text stays NULL, ``n_lines`` = 0,
    ``n_removed`` = 0 (the sibling minhash/simhash operators drop
    content-free docs entirely; a rebuild operator must keep every row).

    Scale shape: the decision is corpus-global but the corpus itself is
    NEVER shuffled — lines hash in-row (md5_int over the normalized line),
    one shuffle counts the hashes with map-side partial aggregation, the
    per-document removal POSITIONS (duplicated lines only — a tiny
    fraction of the corpus) aggregate in a second small shuffle, and each
    document rebuilds in-row after a broadcast-when-it-fits join of that
    small side back onto the docs. The line-hash frame feeds two
    consumers (count aggregate + position join), so it is cut with an
    eager checkpoint barrier — ≈ 28 B per non-empty line, far smaller
    than the corpus; on a real cluster a session checkpoint dir makes it
    reliable (functions.materialize). The docs themselves are scanned
    twice (hash extraction + rebuild) — two parquet scans, never a corpus
    shuffle or a corpus-width cut.
    """
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (1 would drop every line), got {min_count}"
        )
    if delimiter == "":
        raise ValueError("delimiter must be non-empty")
    from mortar_parquet_support_spark.plans.hints import maybe_broadcast

    # F.split takes a Java regex; the delimiter contract is LITERAL. \Q..\E
    # quotes any metacharacter; a literal \E inside the delimiter must
    # break out of and re-enter the quoted region.
    pat = "\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    base = df.withColumn("_lines", F.split(F.col(text_col), pat, -1))
    ex = base.select(
        F.col(id_col), F.posexplode("_lines").alias("_pos", "_line")
    )
    norm = F.trim(F.lower(F.col("_line"))) if normalize else F.col("_line")
    # whitespace-only lines are structure in both modes — and "whitespace"
    # must mean ALL of it: trim strips only ASCII spaces, so a '\t'
    # indentation line would be hashed, counted, and deleted from every
    # document once repeated min_count times (review r14); rlike(\S) keeps
    # the docstring's promise for tabs/newlines too
    hashed = ex.filter(F.col("_line").rlike(r"\S")).select(
        id_col, "_pos", md5_int(norm).alias("_h")
    )
    hashed = materialize(hashed)
    dup = (
        hashed.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    dup_pos = (
        hashed.join(maybe_broadcast(dup), "_h")
        .groupBy(id_col)
        .agg(
            F.collect_set("_pos").alias("_dup_pos"),
            F.count(F.lit(1)).alias("_n_removed"),
        )
    )
    empty_pos = F.array().cast("array<int>")
    keep = F.filter(
        F.col("_lines"),
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("_dup_pos"), empty_pos), i
        ),
    )
    return base.join(maybe_broadcast(dup_pos), id_col, "left").select(
        F.col(id_col),
        F.array_join(keep, delimiter).alias(text_col),
        # size() is conf-dependent on NULL input (legacy -1 vs NULL):
        # branch explicitly so NULL text reports 0 lines either way
        F.when(F.col("_lines").isNull(), F.lit(0))
        .otherwise(F.size("_lines"))
        .cast("long")
        .alias("n_lines"),
        F.coalesce(F.col("_n_removed"), F.lit(0)).cast("long").alias("n_removed"),
    )


def similarity_join(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_words: int = 3,
) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering (Bayardo,
    Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity Search" /
    PPJoin's prefix filter): every unordered pair of documents whose word
    ``shingle_words``-gram Jaccard is >= ``threshold`` — no LSH
    approximation, no recall loss, and no all-pairs comparison.

    The filter: order every token by ascending corpus frequency (rarest
    first; ties by token), sort each document's distinct shingle set in
    that global order, and keep only the first ``|S| - ceil(t*|S|) + 1``
    tokens as the document's PREFIX. Any pair with Jaccard >= t must
    share >= ceil(t*|S|) tokens with each member, which cannot fit in
    either suffix — so qualifying pairs ALWAYS collide on a prefix token,
    and candidate generation is an equi-join on prefix tokens only. A
    length band (t*|A| <= |B| <= |A|/t) prunes size-incompatible
    collisions before the exact verify
    (:func:`jaccard_pairs` — the same verify leg minhash dedup uses).

    Scale shape: one corpus-wide shuffle for token counts + one for the
    per-doc sort; the candidate join explodes only ~(1-t)*|S|+1 prefix
    tokens per doc, and frequency-ascending ordering pushes hot tokens
    into suffixes, so join fan-out concentrates on RARE tokens — the
    candidate-count minimizer the paper is about. Versus minhash LSH
    (:func:`minhash_dedup`): this is exact and parameter-free but
    explodes prefixes corpus-wide; LSH trades recall for a fixed
    signature cost. Use this when misses are unacceptable (compliance
    dedup, eval-set isolation) and t is high (prefixes shrink as t
    grows).

    Returns (``id_a``, ``id_b``, ``jaccard``) with id_a < id_b. NULL-text
    AND empty/whitespace-only documents never pair (the minhash contract:
    content-free docs are literal duplicates of each other — exact_dedup's
    job — and letting M of them collide on the [''] singleton shingle set
    would emit C(M,2) pairs; review r14).
    """
    cand = similarity_join_candidates(
        df,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        shingle_words=shingle_words,
    )
    scored = jaccard_pairs(
        # eager candidate barrier, as in minhash_dedup
        df, materialize(cand), id_col=id_col,
        text_col=text_col, shingle_words=shingle_words,
    )
    return scored.filter(F.col("jaccard") >= F.lit(float(threshold)))


def similarity_join_candidates(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_words: int = 3,
) -> DataFrame:
    """The candidate-generation stage of :func:`similarity_join` —
    (``id_a``, ``id_b``) pairs surviving the prefix filter + length
    band, BEFORE the exact Jaccard verify. Split out so the fan-out
    bound is measurable (tools/bench_simjoin.py counts candidates vs
    the n*(n-1)/2 all-pairs space) and reusable by callers that want
    their own verify leg."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = F.lit(float(threshold))
    # content-free docs never enter candidacy (the minhash contract):
    # word_shingles gives every empty/whitespace-only doc the SAME ['']
    # singleton set, so its prefix is the whole set, the length band (1
    # vs 1) prunes nothing, and M empty docs would emit C(M,2) candidate
    # AND output pairs — quadratic, on a class a cleaned web corpus hits
    # by the millions (review r14). Route empties through exact_dedup.
    # distinct (id, tok) rows via the codegen explode-offsets spelling
    # (_shingle_token_rows), MATERIALIZED because two consumers share the
    # lineage below (the corpus-wide token counts and the per-doc sort
    # join) — left lazy, the tokenization ran once per consumer, and the
    # word_shingles transform it replaces was 4.0s/pass at sf0.1 (r17)
    tok = materialize(
        _shingle_token_rows(
            df.filter(
                F.col(text_col).isNotNull() & F.col(text_col).rlike(r"\S")
            ).select(
                F.col(id_col).alias("id"), F.col(text_col).alias("_text")
            ),
            shingle_words,
        )
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ordered = (
        tok.join(counts, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cnt"), F.col("tok")))
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
        # exactness guard: t*sz is IEEE-rounded, and e.g. 0.07*100 =
        # 7.000000000000001 would ceil to 8 — one token too few in the
        # prefix, a silent false NEGATIVE in an operator documented for
        # "misses are unacceptable" use. Nudging down by 1e-9 before
        # ceil can only err toward a LONGER prefix (extra candidates,
        # pruned by the exact verify), never a shorter one. Same
        # discipline as sketches._QHIST_EPS.
        .withColumn(
            "p", F.col("sz") - F.ceil(t * F.col("sz") - F.lit(1e-9)) + 1
        )
        .select(
            "id",
            "sz",
            F.expr("transform(slice(toks, 1, int(p)), s -> s.tok)").alias(
                "prefix"
            ),
        )
    )
    # both self-join legs consume `ordered`; left lazy, the token-count
    # shuffle and the per-doc sort would execute TWICE (a full extra
    # corpus pass at scale)
    ordered = materialize(ordered)
    collided = (
        ordered.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("sz_a"),
            F.posexplode("prefix").alias("pa", "ptok"),
        )
        .join(
            ordered.select(
                F.col("id").alias("id_b"),
                F.col("sz").alias("sz_b"),
                F.posexplode("prefix").alias("pb", "ptok"),
            ),
            "ptok",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # same 1e-9 nudge as the prefix length: the size band must
            # only ever be LOOSER than exact, never tighter
            & (F.col("sz_b") >= F.ceil(t * F.col("sz_a") - F.lit(1e-9)))
            & (
                F.col("sz_b")
                <= F.floor(F.col("sz_a") / t + F.lit(1e-9))
            )
        )
    )
    # PPJoin positional filter (r17; Xiao et al. WWW'08 §4): the same
    # aggregate that deduplicated collisions (the old .distinct()) now
    # also carries each pair's collision positions, and two sound upper
    # bounds on the overlap prune pairs the exact verify could never
    # score >= t. With alpha = ceil(t/(1+t) * (sz_a + sz_b)) (nudged
    # LOOSER by 1e-9, like every exactness-critical ceil here),
    # J >= t  <=>  o = |A∩B| >= alpha. Both documents' token arrays are
    # sorted by ONE global (freq, tok) order and hold distinct tokens,
    # so the min-position collision on both sides is the SAME token w*
    # (the globally first shared token: for any pair with J >= t, w* is
    # inside BOTH prefixes — were it past A's prefix, every shared token
    # would fit in A's suffix of size ceil(t*sz_a) - 1 < alpha), and the
    # max-position collision is the last shared prefix token w'. Bounds
    # (0-based positions):
    #   o <= min(sz_a - pa_min, sz_b - pb_min)            [all shared
    #       tokens are >= w*, so they fit in both w*-tails]
    #   o <= n_coll + min(sz_a - pa_max, sz_b - pb_max) - 1  [shared
    #       tokens beyond the n_coll prefix collisions sit in a suffix,
    #       and every suffix token sorts AFTER w' on both sides]
    # Either bound under alpha proves J < t, so dropping the pair
    # cannot lose a qualifying pair — similarity_join's output is
    # unchanged (the lossless-vs-brute-force property tests pin this).
    alpha = F.ceil(
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("sz_a") + F.col("sz_b"))
        - F.lit(1e-9)
    )
    cand = (
        collided.groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(
            F.min("pa").alias("pa_min"),
            F.min("pb").alias("pb_min"),
            F.max("pa").alias("pa_max"),
            F.max("pb").alias("pb_max"),
            F.count(F.lit(1)).alias("n_coll"),
        )
        .filter(
            (
                F.least(
                    F.col("sz_a") - F.col("pa_min"),
                    F.col("sz_b") - F.col("pb_min"),
                )
                >= alpha
            )
            & (
                F.col("n_coll")
                + F.least(
                    F.col("sz_a") - F.col("pa_max"),
                    F.col("sz_b") - F.col("pb_max"),
                )
                - 1
                >= alpha
            )
        )
        .select("id_a", "id_b")
    )
    return cand
