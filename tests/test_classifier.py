"""linear_classifier_score / hashed_features edge semantics.

The full model (hashing, pooling, sigmoid) is oracle-checked bit-for-bit
by the linear_classifier entry; here: gram construction, the
missing-weight-counts-as-zero rule, degenerate documents, and the
broadcast plan shape.
"""

import math
import pytest

from pyspark.sql import functions as F

from mortar_parquet_support_spark.operators.text import (
    hashed_features,
    linear_classifier_score,
)
from tests.conftest import plan_str


def test_hashed_features_gram_count(spark):
    df = spark.createDataFrame(
        [("a b c",), ("hello",), ("",), (None,)], "text string"
    )
    out = df.select(F.size(hashed_features(F.col("text"))).alias("n")).collect()
    # "a b c": 3 unigrams + 2 bigrams; "hello": 1 + 0; "": size 0;
    # NULL text -> NULL array (size -1 under legacy sizeOfNull=false? no:
    # size(NULL) is NULL here because ansi returns null) -> accept None
    ns = [r.n for r in out]
    assert ns[0] == 5 and ns[1] == 1 and ns[2] == 0
    assert ns[3] in (None, -1)


def test_score_mean_pools_unweighted_features(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    # find the actual feature id of unigram "a" via the same hashing
    fid_a = docs.select(
        F.element_at(hashed_features(F.lit("a"), n_buckets=64), 1).alias("f")
    ).head().f
    weights = spark.createDataFrame([(fid_a, 3.0)], "feature long, weight double")
    row = linear_classifier_score(
        docs, weights, n_buckets=64
    ).head()
    # grams: a, b, "a b" -> 3 features, one carries weight 3.0 (unless the
    # other two grams collide into fid_a in 64 buckets — then the margin
    # grows in steps of 1.0; accept the collision-consistent values)
    assert row.n_features == 3
    candidates = {1.0, 2.0, 3.0}  # 1, 2, or 3 grams landing on fid_a
    assert any(
        math.isclose(row.score, 1.0 / (1.0 + math.exp(-m))) for m in candidates
    )


def test_degenerate_documents_score_bias(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id long, text string"
    )
    weights = spark.createDataFrame([(0, 5.0)], "feature long, weight double")
    rows = {r.doc_id: r for r in linear_classifier_score(docs, weights).collect()}
    for i in (1, 2, 3):
        assert rows[i].n_features == 0
        assert math.isclose(rows[i].score, 0.5)
    # and a nonzero bias shifts them to sigmoid(bias)
    rows_b = {
        r.doc_id: r
        for r in linear_classifier_score(docs, weights, bias=2.0).collect()
    }
    assert math.isclose(rows_b[1].score, 1.0 / (1.0 + math.exp(-2.0)))


def test_weights_join_is_broadcast(spark):
    docs = spark.createDataFrame(
        [(i, f"word{i} common text") for i in range(50)],
        "doc_id long, text string",
    )
    weights = spark.range(256).select(
        F.col("id").alias("feature"), (F.col("id") * 0.01).alias("weight")
    )
    out = linear_classifier_score(docs, weights, n_buckets=256)
    out.collect()
    plan = plan_str(out).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan


def test_keep_columns_appends_scores_to_input_rows(spark):
    """``keep_columns`` returns every input column in order, then
    n_features and score — with the same types and the same values as
    the default (id, n_features, score) output, degenerate docs
    included."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "spark spark spark"),
            (3, ""),
            (4, None),
            (5, "a"),
        ],
        "doc_id long, text string",
    )
    weights = spark.range(4096).select(
        F.col("id").alias("feature"),
        ((F.col("id") % 7) / 7.0 - 0.4).alias("weight"),
    )
    base = linear_classifier_score(docs, weights, n_buckets=4096, bias=0.1)
    kc = linear_classifier_score(
        docs, weights, n_buckets=4096, bias=0.1, keep_columns=True
    )
    assert kc.columns == ["doc_id", "text", "n_features", "score"]
    # a parquet append / unionByName across the two shapes must not see
    # int vs bigint n_features
    assert kc.select(*base.columns).schema == base.schema
    b = {r.doc_id: (r.n_features, r.score) for r in base.collect()}
    k = {r.doc_id: (r.text, r.n_features, r.score) for r in kc.collect()}
    assert {i: v[1:] for i, v in k.items()} == b
    assert {i: v[0] for i, v in k.items()} == {
        r.doc_id: r.text for r in docs.collect()
    }


def test_train_linear_classifier_converges_and_serves(spark):
    """Trainer + scorer round-trip on separable data: full training
    accuracy, balanced-data zero bias, and docs with no tokens score
    sigmoid(bias)."""
    from mortar_parquet_support_spark.operators.text import (
        linear_classifier_score,
        train_linear_classifier,
    )

    rows = []
    for i in range(200):
        if i % 2:
            rows.append((i, f"excellent wonderful prose sample {i % 7}", 1))
        else:
            rows.append((i, f"spam garbage noise junk {i % 7}", 0))
    rows.append((900, "", 1))  # token-less doc: bias-only
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    w, b = train_linear_classifier(
        df, label_col="label", n_buckets=1 << 16, ngram=1, iters=25, lr=2.0
    )
    scored = linear_classifier_score(df, w, n_buckets=1 << 16, ngram=1, bias=b)
    got = {r.doc_id: r for r in scored.collect()}
    acc = sum(
        1 for i, _, y in rows[:200] if (got[i].score > 0.5) == bool(y)
    ) / 200
    assert acc == 1.0
    import math

    assert abs(got[900].score - 1 / (1 + math.exp(-b))) < 1e-12
    assert got[900].n_features == 0
    with pytest.raises(ValueError, match="iters"):
        train_linear_classifier(df, label_col="label", iters=0)
    with pytest.raises(ValueError, match="empty"):
        train_linear_classifier(df.limit(0), label_col="label")


def test_train_linear_classifier_matches_numpy_reference(spark):
    """Three iterations of the distributed full-batch GD equal the same
    updates run in numpy on the same hashed features (mean-pooled
    sigmoid, zero init) to float tolerance."""
    import math

    import numpy as np

    from mortar_parquet_support_spark.operators.text import (
        hashed_features,
        train_linear_classifier,
    )

    rows = [
        (0, "alpha beta gamma", 1),
        (1, "beta delta", 0),
        (2, "alpha alpha epsilon", 1),
        (3, "junk noise", 0),
        (4, "gamma epsilon alpha", 1),
    ]
    nb, lr, iters = 1 << 12, 0.7, 3
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    feats = {
        r.doc_id: list(r.f)
        for r in df.select(
            "doc_id", hashed_features(F.col("text"), n_buckets=nb, ngram=1).alias("f")
        ).collect()
    }
    w_np, b_np = {}, 0.0
    n = len(rows)
    for _ in range(iters):
        grad, bg = {}, 0.0
        for i, _, y in rows:
            fs = feats[i]
            dot = sum(w_np.get(f, 0.0) for f in fs) / len(fs) if fs else 0.0
            r = 1 / (1 + math.exp(-(b_np + dot))) - y
            bg += r
            for f in fs:
                grad[f] = grad.get(f, 0.0) + r / len(fs)
        b_np -= lr * bg / n
        for f, g in grad.items():
            w_np[f] = w_np.get(f, 0.0) - lr * g / n
    w_df, b = train_linear_classifier(
        df, label_col="label", n_buckets=nb, ngram=1, iters=iters, lr=lr
    )
    got = {r.feature: r.weight for r in w_df.collect()}
    assert abs(b - b_np) < 1e-12
    assert set(got) == set(w_np)
    for f, v in w_np.items():
        assert abs(got[f] - v) < 1e-10, f


def test_duplicate_weight_rejection(spark):
    """The duplicate-feature guard's exception surface, pinned so a
    refactor or Catalyst change cannot silently drop it:

    - a duplicate id a document gram REFERENCES raises at action time
      (the in-plan raise_error aggregate, text.py) — never a silently
      double-counted weight;
    - a duplicate id NO gram references is tolerated (it cannot affect
      any score; Catalyst's projection deferral makes a weights-side
      raise unreliable for exactly those rows).
    """
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    fid_a = docs.select(
        F.element_at(hashed_features(F.lit("a"), n_buckets=64), 1).alias("f")
    ).head().f
    # an id no gram of "a b" touches: grams are a, b, "a b" -> 3 ids
    used = {
        r.f for r in docs.select(
            F.explode(hashed_features(F.col("text"), n_buckets=64)).alias("f")
        ).collect()
    }
    unused = next(i for i in range(64) if i not in used)

    dup_referenced = spark.createDataFrame(
        [(fid_a, 1.0), (fid_a, 2.0)], "feature long, weight double"
    )
    out = linear_classifier_score(docs, dup_referenced, n_buckets=64)
    with pytest.raises(Exception, match="duplicate feature id"):
        out.collect()

    dup_unreferenced = spark.createDataFrame(
        [(fid_a, 1.0), (unused, 1.0), (unused, 2.0)],
        "feature long, weight double",
    )
    rows = linear_classifier_score(docs, dup_unreferenced, n_buckets=64).collect()
    assert rows and rows[0].n_features == 3  # scored clean, no raise
