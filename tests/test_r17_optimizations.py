"""Pinning tests for the r17 optimization round's operator-internal
rewrites. Each one asserts VALUE IDENTITY between the optimized spelling
and an inline reconstruction of the spelling it replaced — the
optimizations must be invisible to every consumer:

- _shingle_token_rows == explode(word_shingles) (codegen offsets vs
  interpreted transform), including the NULL-text / short-doc edges;
- jaccard_pairs' inverted-index scoring == the array_intersect formula,
  including NULL-shingle 1.0, zero-overlap 0.0, and absent-id drops;
- embedding_dedup exact mode (block pairs + Arrow dimension-loop) ==
  the single-bucket JVM cosine self-join, bit-for-bit, for any
  block_rows choice.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mortar_parquet_support_spark.functions import (
    cosine_from_norms,
    materialize,
    vector_norm,
    word_shingles,
)
from mortar_parquet_support_spark.operators.dedup import (
    _shingle_token_rows,
    embedding_dedup,
    jaccard_pairs,
)

EDGE_DOCS = [
    (1, "alpha beta gamma delta epsilon"),
    (2, "alpha beta gamma"),          # exactly k words
    (3, "alpha beta"),                # short doc -> whole-text fallback
    (4, "alpha"),                     # 1 word
    (5, None),                        # NULL text
    (6, ""),                          # empty
    (7, "   \t\n  "),                 # whitespace-only (incl. tab/newline)
    (8, "\talpha  beta\tgamma delta"),  # leading tab, interior runs
    (9, "x y z x y z x y z"),         # duplicate shingles within doc
    (10, "alpha beta gamma delta epsilon"),  # duplicate of doc 1's text
]


def _norm_rows(rows):
    return sorted(
        tuple("nan" if isinstance(x, float) and math.isnan(x) else repr(x) for x in r)
        for r in rows
    )


def test_shingle_token_rows_matches_word_shingles(spark):
    docs = spark.createDataFrame(EDGE_DOCS, "id long, _text string")
    for k in (1, 2, 3, 5):
        new = _shingle_token_rows(docs, k).collect()
        # reference: explode_outer of word_shingles — NULL array -> one
        # (id, NULL) row, matching the helper's NULL-text contract
        old = (
            docs.select(
                "id",
                F.explode_outer(word_shingles(F.col("_text"), k)).alias("tok"),
            )
            .dropDuplicates(["id", "tok"])
            .collect()
        )
        assert _norm_rows(new) == _norm_rows(old), f"k={k}"


def _jaccard_reference(df, pairs, *, id_col, text_col, shingle_words=3,
                       df_b=None):
    """The r16 spelling: shingle ARRAYS + per-pair array_intersect."""
    def sh_frame(src, ids):
        return materialize(
            src.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
            .join(ids, "id", "left_semi")
            .select("id", word_shingles(F.col("_t"), shingle_words).alias("sh"))
        )

    if df_b is None:
        ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh_a = sh_b = sh_frame(df, ids)
    else:
        sh_a = sh_frame(df, pairs.select(F.col("id_a").alias("id")).distinct())
        sh_b = sh_frame(df_b, pairs.select(F.col("id_b").alias("id")).distinct())
    out = pairs.join(
        sh_a.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
        "id_a",
    ).join(
        sh_b.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
        "id_b",
    )
    out = out.withColumn(
        "_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    )
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - F.col("_inter")
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, F.col("_inter") / union).otherwise(F.lit(1.0)).alias("jaccard"),
    )


def test_jaccard_pairs_matches_array_intersect_reference(spark):
    docs = spark.createDataFrame(EDGE_DOCS, "id long, _text string")
    # pairs: overlapping, identical, zero-overlap, NULL-text member,
    # short docs, an id absent from the corpus (must drop), self-pairs
    # (incl. NULL text and repeated shingles) and two absent ids
    pairs = spark.createDataFrame(
        [(1, 2), (1, 10), (1, 9), (2, 3), (3, 4), (1, 5), (5, 6), (6, 7),
         (4, 9), (1, 99), (1, 1), (5, 5), (9, 9), (98, 99)],
        "id_a long, id_b long",
    )
    new = jaccard_pairs(docs, pairs, id_col="id", text_col="_text").collect()
    old = _jaccard_reference(docs, pairs, id_col="id", text_col="_text").collect()
    assert _norm_rows(new) == _norm_rows(old)


def test_jaccard_pairs_cross_corpus_matches_reference(spark):
    docs = spark.createDataFrame(EDGE_DOCS, "id long, _text string")
    left = docs.filter(F.col("id") % 2 == 0)
    right = docs.filter(F.col("id") % 2 == 1)
    pairs = spark.createDataFrame(
        [(2, 1), (2, 9), (10, 1), (6, 5), (4, 3), (2, 99)],
        "id_a long, id_b long",
    )
    new = jaccard_pairs(
        left, pairs, id_col="id", text_col="_text", df_b=right
    ).collect()
    old = _jaccard_reference(
        left, pairs, id_col="id", text_col="_text", df_b=right
    ).collect()
    assert _norm_rows(new) == _norm_rows(old)


def test_jaccard_pairs_duplicate_pairs_score_once_per_copy(spark):
    """A caller-supplied DUPLICATE (id_a, id_b) row must score once per
    copy with the correct jaccard — a spelling that fanned the copies
    out before counting multiplied the match count (0.5 instead of 0.2
    for a doubled pair)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y")], "id long, _text string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 2)], "id_a long, id_b long")
    got = jaccard_pairs(docs, pairs, id_col="id", text_col="_text").collect()
    # shingle_words=3: sets are the 3 distinct 3-grams of each doc,
    # sharing exactly 'a b c' -> jaccard 1/(3+3-1) = 0.2, twice
    assert sorted((r.id_a, r.id_b, round(r.jaccard, 6)) for r in got) == [
        (1, 2, 0.2),
        (1, 2, 0.2),
    ]


def test_jaccard_pairs_duplicate_id_scores_union_of_copies(spark):
    """A duplicated id is one document whose shingle set is the union of
    its copies' sets: one output row per pair, not one per copy."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (1, "x y z"), (2, "a b c x y")],
        "id long, _text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = jaccard_pairs(docs, pairs, id_col="id", text_col="_text").collect()
    # id 1: {abc, bcd, cde} | {xyz} (4), id 2: {abc, bcx, cxy} (3), share
    # 'a b c' -> 1 / (4 + 3 - 1)
    assert [(r.id_a, r.id_b, round(r.jaccard, 6)) for r in got] == [
        (1, 2, round(1 / 6, 6))
    ]


EDGE_VECS = [
    (1, [1.0, 2.0, 3.0]),
    (2, [1.0, 2.0, 3.0]),
    (3, [0.0, 0.0, 0.0]),           # zero norm -> NULL cosine everywhere
    (4, [float("nan"), 1.0, 2.0]),  # NaN cosine: kept (NaN >= t in Spark)
    (5, None),                      # NULL vector: filtered
    (6, []),                        # empty: filtered
    (7, [1.0, None, 2.0]),          # NULL element -> NULL everywhere
    (None, [1.0, 2.0, 3.0]),        # NULL id: never emits
    (8, [1.0, 2.0]),                # dim 2: only pairs with same dim
    (9, [2.0, 4.0]),
    (10, [-1.0, -2.0, -3.0]),
]


def _exact_reference(df, id_col, vec_col, threshold):
    """The r16 exact mode: constant-bucket self-join + JVM cosine."""
    keyed = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.lit(0).alias("bucket"),
        vector_norm(F.col(vec_col)).alias("vnorm"),
    )
    keyed = materialize(keyed)
    a, b = keyed.alias("a"), keyed.alias("b")
    out = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        cosine_from_norms(
            F.col("a.v"), F.col("b.v"), F.col("a.vnorm"), F.col("b.vnorm")
        ).alias("cosine"),
    )
    return out.filter(F.col("cosine") >= threshold)


@pytest.mark.parametrize("block_rows", [None, 1, 3])
def test_embedding_dedup_exact_matches_jvm_reference(spark, block_rows):
    df = spark.createDataFrame(EDGE_VECS, "vid long, emb array<double>")
    for t in (0.5, -2.0):
        new = embedding_dedup(
            df, id_col="vid", vec_col="emb", threshold=t, n_planes=0,
            block_rows=block_rows,
        ).collect()
        old = _exact_reference(df, "vid", "emb", t).collect()
        assert _norm_rows(new) == _norm_rows(old), f"t={t} blocks={block_rows}"


def test_lttb_float_key_null_and_nan_streams_stay_distinct(spark):
    """On a float/double key column, Spark's groupBy keeps a NULL-keyed
    stream and a NaN-keyed stream distinct (and merges all NaNs into one
    group). Arrow→pandas maps SQL NULL to NaN, which merged them before
    the r17 isnull-indicator fix."""
    from mortar_parquet_support_spark.operators.timeseries import lttb_downsample

    n = 40
    rows = []
    for key, base in ((None, 0.0), (float("nan"), 1000.0), (2.5, 2000.0)):
        for i in range(n):
            rows.append((key, i, base + (i % 7)))
    df = spark.createDataFrame(rows, "k double, t long, v double")
    out = lttb_downsample(df, ts="t", value="v", keys=("k",), n_out=5)
    got = out.collect()
    # three distinct streams, each downsampled to exactly n_out points
    assert len(got) == 15
    import math

    by_class = {"null": 0, "nan": 0, "real": 0}
    for r in got:
        if r.k is None:
            by_class["null"] += 1
        elif math.isnan(r.k):
            by_class["nan"] += 1
        else:
            by_class["real"] += 1
    assert by_class == {"null": 5, "nan": 5, "real": 5}
    # per-stream values must come from that stream's own base offset:
    # a merged NULL/NaN group would leak the other stream's points
    for r in got:
        if r.k is None:
            assert 0.0 <= r.v < 10.0
        elif math.isnan(r.k):
            assert 1000.0 <= r.v < 1010.0


def test_embedding_dedup_exact_float32_bit_identity(spark):
    # float32 child type: the scorer must cast each element to double
    # BEFORE multiplying (dot_product's per-element cast) — a float32
    # product would drift low bits (caught on the sf fixtures in r17)
    rows = [(i, [((i * 7 + j * 13) % 29) / 7.0 for j in range(16)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vid long, emb array<float>")
    new = embedding_dedup(
        df, id_col="vid", vec_col="emb", threshold=0.0, n_planes=0, block_rows=7
    ).collect()
    old = _exact_reference(df, "vid", "emb", 0.0).collect()
    assert _norm_rows(new) == _norm_rows(old)


def test_embedding_dedup_block_rows_rejected_outside_exact_mode(spark):
    # block_rows sizes exact mode's blocks only; on the LSH path it would
    # be silently ignored, so it is refused
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vid long, emb array<double>")
    with pytest.raises(ValueError, match="block_rows"):
        embedding_dedup(df, id_col="vid", vec_col="emb", n_planes=4, block_rows=7)
