"""Operator-layer tests: timeseries, dedup, similarity, text, multimodal."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mortar_parquet_support_spark.operators import dedup, multimodal, similarity, text, timeseries


from mortar_parquet_support_spark.tables import load_table


# Cached fixtures must unpersist on teardown: Spark cache-matches by analyzed
# plan, so a lingering InMemoryRelation would hijack identical scans in later
# test modules and hide the FileScan that test_plans.py asserts on.
@pytest.fixture(scope="module")
def events(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    yield df
    df.unpersist()


# ---------------------------------------------------------------- timeseries
def test_time_bucket_rollup(events):
    out = timeseries.time_bucket_rollup(
        events, ts="ts", keys=["event_type"], bucket="1 hour", value="value"
    )
    total = out.agg(F.sum("count")).collect()[0][0]
    assert total == events.count()
    one = out.filter(F.col("event_type") == "click").orderBy("bucket").first()
    assert one["min"] <= one["avg"] <= one["max"]


def test_asof_join_matches_pandas(spark):
    left = spark.createDataFrame(
        [("a", 10.0, 1), ("a", 20.0, 2), ("a", 5.0, 3), ("b", 7.0, 4)],
        ["k", "t", "lid"],
    ).select("k", F.col("t").cast("timestamp").alias("t"), "lid")
    right = spark.createDataFrame(
        [("a", 9.0, 100.0), ("a", 15.0, 200.0), ("b", 8.0, 300.0)],
        ["k", "t", "rv"],
    ).select("k", F.col("t").cast("timestamp").alias("t"), "rv")
    out = timeseries.asof_join(left, right, on=["k"], ts="t").orderBy("lid")
    got = [(r.lid, r.rv) for r in out.collect()]
    # pandas merge_asof oracle
    lp = left.toPandas().sort_values("t")
    rp = right.toPandas().sort_values("t")
    exp = pd.merge_asof(lp, rp, on="t", by="k").sort_values("lid")
    assert got == [
        (int(r.lid), None if pd.isna(r.rv) else float(r.rv)) for r in exp.itertuples()
    ]


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([("a", 100.0, 1)], ["k", "t", "lid"]).select(
        "k", F.col("t").cast("timestamp").alias("t"), "lid"
    )
    right = spark.createDataFrame([("a", 10.0, 5.0)], ["k", "t", "rv"]).select(
        "k", F.col("t").cast("timestamp").alias("t"), "rv"
    )
    hit = timeseries.asof_join(left, right, on=["k"], ts="t", tolerance="2 minutes")
    assert hit.first().rv == 5.0
    miss = timeseries.asof_join(left, right, on=["k"], ts="t", tolerance="30 seconds")
    assert miss.first().rv is None


def test_sessionize(spark):
    df = spark.createDataFrame(
        [("u", 0.0), ("u", 60.0), ("u", 4000.0), ("u", 4100.0), ("v", 0.0)],
        ["k", "t"],
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    out = timeseries.sessionize(df, ts="t", keys=["k"], gap="30 minutes")
    sess = {(r.k, int(r.t.timestamp())): r.session_id for r in out.collect()}
    assert sess[("u", 0)] == sess[("u", 60)] == 1
    assert sess[("u", 4000)] == sess[("u", 4100)] == 2
    assert sess[("v", 0)] == 1


def test_resample_ffill(spark):
    df = spark.createDataFrame(
        [("s", 0.0, 1.0), ("s", 1800.0, None), ("s", 3600.0, 3.0)],
        ["uuid", "t", "value"],
    ).select("uuid", F.col("t").cast("timestamp").alias("time"), "value")
    out = timeseries.resample(df, step="15 minutes", how="last", fill="ffill")
    vals = [r.value for r in out.orderBy("time").collect()]
    assert vals == [1.0, 1.0, 1.0, 1.0, 3.0]  # 0,900,1800(ffill),2700,3600


def test_topk_per_group(events):
    out = timeseries.topk_per_group(
        events, keys=["event_type"], order_by=[F.col("value").desc(), "event_id"], k=3
    )
    counts = {r.event_type: r.n for r in out.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert all(v == 3 for v in counts.values())


# ---------------------------------------------------------------- dedup
def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "Hello, WORLD!"), (4, "other")],
        ["doc_id", "text"],
    )
    plain = dedup.exact_dedup(df, ["text"], id_col="doc_id")
    assert plain.count() == 3  # 1+2 collide
    norm = dedup.exact_dedup(df, ["text"], id_col="doc_id", normalize=True)
    assert norm.count() == 2  # 1+2+3 collide
    keep = {r.keep_id for r in norm.collect()}
    assert keep == {1, 4}


def test_exact_dedup_normalized_null_vs_literal_null_text(spark):
    """Review finding r8: the NULL sentinel must survive normalization —
    lowercase+punct-strip used to reduce it to the word 'null', colliding
    NULL cells with documents whose text IS 'null'/'NULL'/'(null)'."""
    df = spark.createDataFrame(
        [(1, None), (2, "NULL"), (3, "(null)"), (4, None)],
        "doc_id int, text string",
    )
    norm = dedup.exact_dedup(df, ["text"], id_col="doc_id", normalize=True)
    rows = {r.keep_id: r.n_copies for r in norm.collect()}
    # NULLs group together; 'NULL' and '(null)' normalize to the same TEXT
    # 'null' and group together; the two groups never merge
    assert rows == {1: 2, 2: 2}


def test_minhash_rejects_band_mismatch(spark):
    """Review finding r8: bands > num_perm made every band hash a CONSTANT
    (rows_per_band = 0) — one global bucket, quadratic self-join, no error;
    a non-dividing bands silently dropped trailing signatures."""
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    for bad in [(64, 100), (64, 48), (64, 0)]:
        with pytest.raises(ValueError, match="must divide num_perm"):
            dedup.minhash_lsh_candidates(
                df, id_col="doc_id", text_col="text",
                num_perm=bad[0], bands=bad[1],
            ).collect()


def test_simhash_rejects_band_bits_mismatch(spark):
    """Review finding r8: band_bits=24 covered only bits 0-47 — pairs
    differing in the ignored high bits were silently missed."""
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must divide 64"):
        dedup.simhash_dedup(
            df, id_col="doc_id", text_col="text", band_bits=24
        ).collect()


def test_near_dup_excludes_empty_documents(spark):
    """Review finding r8: empty/whitespace-only docs all shared one
    signature/fingerprint and piled into a single LSH bucket (quadratic
    candidates). They are literal duplicates — exact_dedup territory —
    so the near-dup generators must skip them entirely."""
    rows = [(1, ""), (2, "   "), (3, ""), (4, "real content here words")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df, id_col="doc_id", text_col="text")
    assert {r.id for r in sigs.select("id").collect()} == {4}
    pairs = dedup.simhash_dedup(df, id_col="doc_id", text_col="text")
    assert pairs.count() == 0
    # exact_dedup still groups them: the empties are one digest group
    exact = dedup.exact_dedup(df, ["text"], id_col="doc_id", normalize=True)
    groups = {r.keep_id: r.n_copies for r in exact.collect()}
    assert groups[1] == 3


def test_minhash_shingle_words_passthrough(spark):
    """shingle_words must reach BOTH the candidate and verify stages: with
    5-word shingles two docs sharing only a 3-word run have Jaccard 0."""
    # a permutation: unigram Jaccard 1.0 (identical word SET, so the
    # unigram minhash signatures are identical and the candidate pair is
    # GUARANTEED), but no 5-gram in common at all
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "f e d c b a")], ["doc_id", "text"]
    )
    narrow = dedup.minhash_dedup(
        df, id_col="doc_id", text_col="text", threshold=0.5, shingle_words=1
    )
    rows = narrow.collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0
    wide = dedup.minhash_dedup(
        df, id_col="doc_id", text_col="text", threshold=0.01, shingle_words=5
    )
    assert wide.count() == 0  # no shared 5-gram anywhere


def test_sq8_quantize_saturates_out_of_range(spark):
    """Review finding r8: the int cast ran BEFORE the clamp, so applying
    saved (lo, hi) params to a drifted value overflowed the cast (an ANSI
    CAST_OVERFLOW error) instead of saturating to the code range."""
    from mortar_parquet_support_spark.operators.quantize import sq8_quantize

    df = spark.createDataFrame([(1, [1e7, -1e7])], ["vec_id", "embedding"])
    out = sq8_quantize(
        df, vec_col="embedding", lo=[0.0, 0.0], hi=[0.001, 0.001]
    ).collect()[0]["codes"]
    assert out == [127, -128]


def test_sq8_roundtrip_error_bound_and_schema(spark, sf_dir):
    """SQ8 reconstruction error is bounded by half a quantization step per
    dimension, and codes are stored as array<tinyint> (dim bytes/vector —
    the memory claim the operator exists for)."""
    from mortar_parquet_support_spark.operators.quantize import (
        sq8_dequantize, sq8_quantize, sq8_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lo, hi = sq8_train(emb)
    assert len(lo) == len(hi) == 64
    codes = sq8_quantize(emb, lo=lo, hi=hi)
    assert dict(codes.dtypes)["codes"] == "array<tinyint>", codes.dtypes
    step = [(h - l) / 255.0 for l, h in zip(lo, hi)]
    worst = codes.select(
        F.max(
            F.array_max(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    sq8_dequantize(F.col("codes"), lo=lo, hi=hi),
                    lambda v, d: F.abs(v - d),
                )
            )
        ).alias("err")
    ).collect()[0]["err"]
    assert worst <= max(step) / 2 + 1e-9, (worst, max(step) / 2)


def test_sq8_topk_recall_and_exact_rerank(spark, sf_dir):
    """Quantized search keeps high recall vs exact cosine top-k, and the
    overfetch + full-precision re-rank stage recovers the EXACT result on
    the fixture corpus (deterministic: fixed data, fixed params)."""
    from mortar_parquet_support_spark.operators.quantize import (
        sq8_quantize, sq8_topk, sq8_train,
    )
    from mortar_parquet_support_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    lo, hi = sq8_train(emb)
    codes = sq8_quantize(emb, lo=lo, hi=hi).select("vec_id", "codes")

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sq8_topk(codes, queries, lo=lo, hi=hi, k=10).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, recall

    reranked = sq8_topk(
        codes, queries, lo=lo, hi=hi, k=10, rerank_corpus=emb, overfetch=4
    )
    got = {(r.query_id, r.neighbor_id) for r in reranked.collect()}
    assert got == exact, (got - exact, exact - got)


def test_ivf_sq8_full_probe_rerank_is_exact(spark, sf_dir):
    """IVF+SQ8 composition: the coded frame carries NO full-precision
    vector column (the memory claim), and full probe + exact re-rank
    recovers cosine_topk's exact result on the fixture corpus."""
    from mortar_parquet_support_spark.operators.quantize import IvfSq8Index
    from mortar_parquet_support_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = IvfSq8Index.build(emb, n_list=8, persist=True)
    try:
        dtypes = dict(idx.coded.dtypes)
        assert dtypes["codes"] == "array<tinyint>", dtypes
        assert "c_vec" not in dtypes and "embedding" not in dtypes, dtypes

        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, queries, k=10).collect()
        }
        got = {
            (r.query_id, r.neighbor_id)
            for r in idx.topk(
                queries, k=10, nprobe=8, rerank_corpus=emb, overfetch=4
            ).collect()
        }
        assert got == exact, (got - exact, exact - got)

        # partial probe still returns k rows per query (recall dial, not a
        # correctness gate)
        part = idx.topk(queries, k=10, nprobe=2)
        counts = {r["query_id"]: r["n"] for r in part.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
        assert all(v == 10 for v in counts.values()), counts
    finally:
        idx.unpersist()


def test_ivf_sq8_save_load_round_trip(spark, sf_dir, tmp_path):
    """save/load parity with IvfIndex/LshIndex: codes land partitioned by
    list_id (probe-prunable, int8 on disk) and a reloaded index returns
    the same full-probe result set as the in-memory one."""
    import os

    from mortar_parquet_support_spark.operators.quantize import IvfSq8Index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    idx = IvfSq8Index.build(emb, n_list=4, persist=False)
    want = {(r.query_id, r.neighbor_id) for r in idx.topk(queries, k=5, nprobe=4).collect()}

    path = str(tmp_path / "sq8idx")
    idx.save(path)
    assert any(d.startswith("list_id=") for d in os.listdir(f"{path}/coded"))
    re = IvfSq8Index.load(spark, path)
    assert dict(re.coded.dtypes)["codes"] == "array<tinyint>"
    got = {(r.query_id, r.neighbor_id) for r in re.topk(queries, k=5, nprobe=4).collect()}
    assert got == want
    # the inner index is probe-only: scoring/saving through IT (instead of
    # the owning IvfSq8Index) fails loudly, never scores the wrong frame
    with pytest.raises(ValueError, match="probe-only"):
        re._ivf.topk(queries, k=5)
    with pytest.raises(ValueError, match="probe-only"):
        re._ivf.save(str(tmp_path / "nope"))


def test_crosscorpus_dedup_planted_pair(spark):
    """Cross-corpus near-dup join: a left doc near-duplicating a right doc
    is found; ids are side-scoped (overlapping id values never produce
    self-pairs); within-corpus duplicates are NOT reported."""
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark dataframes and parquet files here"
    left = spark.createDataFrame(
        [(1, base), (2, far), (3, far)], ["doc_id", "text"]  # 2/3 dup WITHIN left
    )
    right = spark.createDataFrame(
        [(1, near), (2, "unrelated words entirely disjoint from both corpora")],
        ["doc_id", "text"],  # right id 1 overlaps left id 1 on purpose
    )
    out = dedup.crosscorpus_dedup(
        left, right, id_col="doc_id", text_col="text", threshold=0.5,
        num_perm=64, bands=32,
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(1, 1)}, got  # base~near across; never (2,3) within left


def test_crosscorpus_dedup_matches_exact_cross_pairs(spark, sf_dir):
    """LSH candidates + exact verify must equal the brute-force exact
    cross-Jaccard pair set on the fixture corpus (single-row bands: a
    J>=0.5 pair is missed with probability (1-J)^64 — deterministic under
    the fixed seed, and exact here)."""
    from mortar_parquet_support_spark.functions import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)
    lsh = dedup.crosscorpus_dedup(
        left, right, id_col="doc_id", text_col="text", threshold=0.5,
        num_perm=64, bands=64,
    )
    got = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in lsh.collect()}

    sh_l = left.select(
        F.col("doc_id").alias("id_a"), word_shingles(F.col("text"), 3).alias("sa")
    )
    sh_r = right.select(
        F.col("doc_id").alias("id_b"), word_shingles(F.col("text"), 3).alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    exact = (
        sh_l.crossJoin(sh_r)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.5)
    )
    want = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in exact.collect()}
    assert got == want, (got - want, want - got)


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark dataframes and parquet files here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_dedup(df, id_col="doc_id", text_col="text", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got  # identical
    assert (1, 2) in got or (2, 4) in got  # near-dup caught
    assert all(3 not in p for p in got)


def test_minhash_jaccard_exact_on_identical(spark):
    df = spark.createDataFrame([(1, "a b c d e f g"), (2, "a b c d e f g")], ["doc_id", "text"])
    pairs = dedup.minhash_dedup(df, id_col="doc_id", text_col="text", threshold=0.99)
    rows = pairs.collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_minhash_dedup_matches_exact_pairs_on_fixture(spark, sf_dir):
    """The dedup_minhash ENTRY config (num_perm=64, bands=16, threshold
    0.5) must reproduce the brute-force exact-Jaccard pair set on the
    fixture corpus — the recall-1.0 property the entry's r12 DuckDB
    oracle promotion turns into a per-round witness (a banded-LSH miss
    would show up as an oracle hash mismatch; this pins the same
    contract in CI at sf0.001)."""
    from mortar_parquet_support_spark.functions import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lsh = dedup.minhash_dedup(docs, id_col="doc_id", text_col="text", threshold=0.5)
    got = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in lsh.collect()}

    sh = docs.select(F.col("doc_id"), word_shingles(F.col("text"), 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.5)
    )
    want = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in exact.collect()}
    assert got == want, (got - want, want - got)


def test_content_free_docs_never_enter_near_dup_candidacy(spark):
    """Review r14: 'empty' must mean ALL whitespace, not just ASCII
    spaces (F.trim strips only 0x20) — tab/newline-only docs previously
    bypassed the minhash/simhash guards and all shared one signature
    (the quadratic blowup the guards document), and similarity_join let
    empty docs collide on the [''] singleton shingle set. A leading tab
    must also not shift shingle hashes away from the exact-verify
    tokenization (phantom '' token)."""
    from mortar_parquet_support_spark.operators.dedup import (
        embedding_dedup,
        minhash_dedup,
        similarity_join,
        simhash_dedup,
    )

    rows = [(i, "\t") for i in range(6)] + [(6, "\n\n"), (7, "   ")] + [
        (8, "alpha beta gamma delta"),
        (9, "\talpha beta gamma delta"),  # leading tab: same content
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = minhash_dedup(df, id_col="doc_id", text_col="text", threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert pairs == {(8, 9)}  # whitespace-only docs pair with NOTHING,
    # and the tab-prefixed twin is found (no phantom-token drift)
    sh = simhash_dedup(df, id_col="doc_id", text_col="text")
    sh_pairs = {(r.id_a, r.id_b) for r in sh.collect()}
    assert all(a >= 8 or b >= 8 for a, b in sh_pairs) or sh_pairs == set()
    assert (8, 9) in sh_pairs  # identical tokens -> identical fingerprint
    sj = similarity_join(df, id_col="doc_id", text_col="text", threshold=0.5)
    assert {(r.id_a, r.id_b) for r in sj.collect()} == {(8, 9)}

    vecs = spark.createDataFrame(
        [(0, None), (1, None), (2, []), (3, [1.0, 0.0]), (4, [1.0, 0.001])],
        "id long, v array<double>",
    )
    ed = embedding_dedup(vecs, id_col="id", vec_col="v", threshold=0.9)
    assert {(r.id_a, r.id_b) for r in ed.collect()} == {(3, 4)}


def test_ivf_and_lsh_degenerate_vectors_follow_cosine_topk_contract(spark):
    """Review r14: a NULL query embedding crashed the IVF driver-centroid
    probe path outright, and zero-norm corpus vectors occupied ranked
    neighbor slots with NULL cosine in IvfIndex/LshIndex.topk — both now
    match cosine_topk (degenerates never rank, NULL queries yield no
    rows)."""
    from mortar_parquet_support_spark.operators.similarity import (
        IvfIndex,
        LshIndex,
        cosine_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(8)]
        + [(8, [0.0, 0.0, 0.0, 0.0])],  # zero norm: NULL cosine
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, None)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex.build(corpus, n_list=2, persist=False)
    got = idx.topk(queries, k=9, nprobe=2).collect()  # full probe = exact
    assert all(r.cosine is not None for r in got)
    assert {r.query_id for r in got} == {100}  # NULL query: no rows, no crash
    exact = cosine_topk(corpus, queries, k=9).collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in exact
    }
    lsh = LshIndex.build(corpus, n_planes=2, persist=False)
    lgot = lsh.topk(queries, k=9).collect()
    assert all(r.cosine is not None for r in lgot)
    idx.unpersist()
    lsh.unpersist()


def test_simhash_dedup(spark):
    words = [f"word{i}" for i in range(60)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, "zzz totally other yyy xxx qqq")],
        ["doc_id", "text"],
    )
    pairs = dedup.simhash_dedup(df, id_col="doc_id", text_col="text")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # identical fingerprints always band-collide
    fps = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", dedup.simhash(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] == fps[2]
    ham_near = bin((fps[1] ^ fps[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((fps[1] ^ fps[4]) & ((1 << 64) - 1)).count("1")
    assert ham_near < 16 < ham_far  # near-dup close in Hamming space, unrelated far


def test_embedding_dedup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dedup.embedding_dedup(df, id_col="vec_id", vec_col="embedding", threshold=0.99, n_planes=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def _planted_clusters(spark, *, n_centers=4, per_center=6, dim=16):
    """Well-separated orthogonal-ish cluster centers with near-identical
    members: every within-center pair is a true near-dup, every cross-center
    cosine is ~0. Deterministic (no RNG: perturbation derives from ids)."""
    rows = []
    vid = 0
    for c in range(n_centers):
        base = [0.0] * dim
        base[c] = 1.0
        base[c + n_centers] = 0.2
        for m in range(per_center):
            v = list(base)
            v[c + 2 * n_centers] = 0.001 * m  # tiny member-specific wiggle
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_exact_mode_matches_embedding_exact(spark):
    df = _planted_clusters(spark)
    want = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_dedup(
            df, id_col="vec_id", vec_col="embedding", threshold=0.99, n_planes=0
        ).collect()
    }
    got = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", threshold=0.99, n_clusters=1
        ).collect()
    }
    assert got == want and got  # identical pair set, bit-identical cosines


def test_semantic_dedup_cluster_pruned_recall(spark):
    """The pruned path never invents a pair and keeps high recall; recall
    < 1.0 is the SemDeDup design tradeoff (a seeded k-means can split a
    true cluster across two cells — observed: one of the four planted
    clusters splits, 51/60 pairs). Deterministic seeding makes the
    measured recall stable, so it is pinned."""
    df = _planted_clusters(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", threshold=0.99, n_clusters=1
        ).collect()
    }
    pruned = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", threshold=0.99,
            n_clusters=4, iters=2,
        ).collect()
    }
    assert pruned <= exact  # never invents a pair
    # every within-center pair is a near-dup: 4 centers x C(6,2)
    assert len(exact) == 4 * 15
    assert len(pruned) / len(exact) >= 0.8


def test_semantic_dedup_identical_members_never_split(spark):
    """EXACT duplicates (identical vectors) can never straddle a cell
    boundary — they share one nearest centroid (deterministic smallest-
    list_id tie-break) — so the pruned path has guaranteed full recall on
    them, whatever the seeding does."""
    dim = 8
    rows = []
    vid = 0
    for c in range(3):
        base = [0.0] * dim
        base[c] = 1.0
        for _ in range(4):
            rows.append((vid, list(base)))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pruned = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", threshold=0.999,
            n_clusters=3, iters=2,
        ).collect()
    }
    assert pruned == {
        (a, b)
        for c in range(3)
        for a in range(4 * c, 4 * c + 4)
        for b in range(a + 1, 4 * c + 4)
    }


def test_semantic_dedup_deterministic_and_null_safe(spark):
    df = _planted_clusters(spark)
    with_null = df.union(
        spark.createDataFrame([(999, None)], df.schema)
    )
    a = sorted(
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup(
            with_null, id_col="vec_id", vec_col="embedding",
            threshold=0.99, n_clusters=4,
        ).collect()
    )
    b = sorted(
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup(
            with_null, id_col="vec_id", vec_col="embedding",
            threshold=0.99, n_clusters=4,
        ).collect()
    )
    assert a == b
    assert all(999 not in p for p in a)  # NULL embedding dropped, no crash
    with pytest.raises(ValueError):
        dedup.semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", n_clusters=0
        )


def test_semantic_dedup_resolves_to_one_per_cluster(spark):
    df = _planted_clusters(spark)
    pairs = dedup.semantic_dedup(
        df, id_col="vec_id", vec_col="embedding", threshold=0.99, n_clusters=1
    )
    kept = dedup.resolve_duplicates(df, pairs, id_col="vec_id")
    ids = sorted(r.vec_id for r in kept.select("vec_id").collect())
    assert ids == [0, 6, 12, 18]  # min id per planted cluster survives


# ---------------------------------------------------------------- similarity
def test_cosine_topk_exact(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(embeddings, queries, k=5)
    rows = out.collect()
    assert len(rows) == 3 * 5
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine, r.neighbor_id))
    for q, lst in by_q.items():
        lst.sort()
        sims = [c for _, c, _ in lst]
        assert sims == sorted(sims, reverse=True)
        assert all(n != q for _, _, n in lst)


def test_lsh_topk_planted_neighbors(spark, embeddings):
    # On uniformly random vectors (near-orthogonal) bucket LSH has near-zero
    # recall BY DESIGN; plant true near-duplicates and verify those are found.
    base = embeddings.limit(20).collect()
    planted = [
        (r.vec_id + 100000, [v * 0.999 + 0.001 for v in r.embedding], r.label)
        for r in base
    ]
    corpus = embeddings.unionByName(
        spark.createDataFrame(planted, embeddings.schema.names)
    )
    queries = spark.createDataFrame(base, embeddings.schema.names)
    approx = similarity.lsh_topk(corpus, queries, k=1, n_planes=8)
    a = {r.query_id: (r.neighbor_id, r.cosine) for r in approx.collect()}
    hits = sum(1 for q, (n, c) in a.items() if n == q + 100000)
    assert hits >= len(base) * 0.7  # planted twin lands in the same bucket
    exact = similarity.cosine_topk(corpus, queries, k=1)
    e = {r.query_id: r.neighbor_id for r in exact.collect()}
    assert all(e[q] == q + 100000 for q in e)  # exact search always finds it


def test_ivf_topk_full_probe_equals_brute_force(embeddings):
    # nprobe = n_list probes every cell, so IVF must reproduce exact
    # brute-force results bit-for-bit (same tie-break: neighbor_id asc).
    queries = embeddings.filter(F.col("vec_id") < 3)
    exact = similarity.cosine_topk(embeddings, queries, k=5)
    ivf = similarity.ivf_topk(
        embeddings, queries, k=5, n_list=4, nprobe=4, iters=1
    )
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    a = {(r.query_id, r.rank): r.neighbor_id for r in ivf.collect()}
    assert e == a


def test_ivf_topk_partial_probe_recall(embeddings):
    # probing half the cells keeps most true neighbors and returns only
    # (query, neighbor) pairs whose cell was probed — k rows max per query,
    # every cosine in [-1, 1].
    queries = embeddings.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(embeddings, queries, k=5, n_list=8, nprobe=4)
    rows = out.collect()
    assert 0 < len(rows) <= 5 * 5
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in rows)
    exact = similarity.cosine_topk(embeddings, queries, k=1)
    top1 = {r.query_id: r.neighbor_id for r in exact.collect()}
    ivf_by_q = {}
    for r in rows:
        ivf_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, n in top1.items() if n in ivf_by_q.get(q, set()))
    assert hits >= 1  # half-probe recall is imperfect by design, not zero


# ---------------------------------------------------------------- text
def test_text_analyze(documents):
    out = text.analyze(documents.limit(50))
    row = out.first()
    assert row.n_tokens > 0 and row.n_bpe_tokens >= row.n_tokens
    assert 0.0 <= row.punct_ratio <= 1.0
    assert 0.0 <= row.quality <= 1.0
    assert len(row.fingerprint) == 32
    en = out.filter(F.col("lang") == "en")
    if en.count() > 0:
        guesses = [r.lang_guess for r in en.collect()]
        assert guesses.count("en") >= len(guesses) // 2


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "goodbye")], ["id", "t"]
    )
    fps = {r.id: r.fp for r in df.select("id", text.fingerprint(F.col("t")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_rolling_hash_deterministic(spark):
    df = spark.createDataFrame([(1, "abcdefghijklmnopqrstuvwxyz")], ["id", "t"])
    a = df.select(text.rolling_hash(F.col("t")).alias("h")).first().h
    b = df.select(text.rolling_hash(F.col("t")).alias("h")).first().h
    assert a == b and a >= 0


# ---------------------------------------------------------------- multimodal
def test_multimodal_pipeline(spark, tmp_path):
    for name, content in [("a.jpg", b"x" * 10000), ("b.wav", b"y" * 3000)]:
        (tmp_path / name).write_bytes(content)
    df = multimodal.ingest_binary_dir(spark, str(tmp_path))
    rows = {r.meta.format: r for r in df.collect()}
    assert rows["jpg"].meta.modality == "image" and rows["jpg"].meta.n_bytes == 10000
    assert rows["wav"].meta.modality == "audio"

    feats = multimodal.extract_features(df, n_features=8)
    frows = feats.collect()
    assert all(len(r.features) == 8 for r in frows)
    # deterministic: same bytes -> same features
    feats2 = {r.media_id: r.features for r in multimodal.extract_features(df, n_features=8).collect()}
    assert all(feats2[r.media_id] == r.features for r in frows)

    frames = multimodal.frame_sample(df)
    per = {r[0]: r[1] for r in frames.groupBy("media_id").count().collect()}
    assert any(v >= 2 for v in per.values())  # 10000 bytes -> 2 pseudo-frames

    # 'real' decodes images AND wav audio for real: garbage bytes in either
    # fail their codec with a clean, informative error
    with pytest.raises(Exception, match="PNG|decode|WAV"):
        multimodal.extract_features(df, decode_fn="real").collect()
    audio_only = df.filter(df.meta.modality == "audio")
    with pytest.raises(Exception, match="not a decodable PCM WAV"):
        multimodal.extract_features(audio_only, decode_fn="real").collect()


# ---------------------------------------------------------------- sampling
def test_hash_split_stable_and_exhaustive(spark, documents):
    from mortar_parquet_support_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    out = hash_split(documents, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert None not in counts  # weights sum to 1 -> exhaustive
    total = documents.count()
    assert abs(counts.get("train", 0) / total - 0.8) < 0.1
    # stability: identical assignment after violent repartitioning
    again = hash_split(documents.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in again.select("doc_id", "split").collect()}
    assert a == b
    s1 = {r.doc_id for r in deterministic_sample(documents, "doc_id", 0.3).collect()}
    s2 = {r.doc_id for r in deterministic_sample(documents.repartition(3), "doc_id", 0.3).collect()}
    assert s1 == s2 and 0 < len(s1) < documents.count()


def test_asof_join_overlapping_right_column(spark):
    """ADVICE r1: a right column named like a left column must surface as
    right_<c>, not blow up the union with a duplicate name."""
    from mortar_parquet_support_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("k", 10.0, 100.0), ("k", 20.0, 200.0)], ["key", "time", "value"]
    )
    right = spark.createDataFrame(
        [("k", 5.0, 1.0), ("k", 15.0, 2.0)], ["key", "time", "value"]
    )
    out = asof_join(left, right, on=["key"], ts="time", right_cols=["value"])
    rows = {r.time: r for r in out.collect()}
    assert rows[10.0].value == 100.0 and rows[10.0].right_value == 1.0
    assert rows[20.0].value == 200.0 and rows[20.0].right_value == 2.0
    assert out.columns.count("value") == 1


def test_minhash_short_documents_not_dropped(spark):
    """ADVICE r1: docs shorter than shingle_words fall back to one
    whole-document shingle, so identical 2-word docs are flagged."""
    from mortar_parquet_support_spark.operators.dedup import minhash_dedup

    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "hello world"),
            (3, "totally different text that is long enough for shingles"),
            (4, "totally different text that is long enough for shingles"),
            (5, "bye"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup(
            docs, id_col="doc_id", text_col="text", threshold=0.9
        ).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # short docs found with exact jaccard
    assert pairs.get((3, 4)) == 1.0
    assert (1, 5) not in pairs and (2, 5) not in pairs


def test_png_codec_roundtrip_all_filters():
    """Pure-stdlib PNG codec: encode with each predictor filter, decode must
    invert it exactly (forward and inverse are independent code paths)."""
    import random

    from mortar_parquet_support_spark.operators.imaging import decode_png, encode_png

    rng = random.Random(7)
    for channels in (1, 2, 3, 4):
        w, h = 13, 9
        pixels = bytes(rng.randrange(256) for _ in range(w * h * channels))
        for ftype in range(5):
            blob = encode_png(pixels, w, h, channels, filter_type=ftype)
            assert decode_png(blob) == (w, h, channels, pixels), (channels, ftype)


def test_png_codec_rejects_garbage():
    import pytest as _pytest

    from mortar_parquet_support_spark.operators.imaging import decode_png

    with _pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_multimodal_real_image_decode(spark):
    """decode_fn='image': real pixels -> real features through mapInPandas."""
    from pyspark.sql import functions as F

    from mortar_parquet_support_spark.operators.imaging import encode_png
    from mortar_parquet_support_spark.operators.multimodal import extract_features

    # 4x2 RGB: solid red row + solid half-gray row -> known channel means
    red = b"\xff\x00\x00" * 4
    gray = b"\x80\x80\x80" * 4
    png1 = encode_png(red + gray, 4, 2, 3, filter_type=4)
    # 3x3 grayscale gradient
    png2 = encode_png(bytes(range(0, 90, 10)), 3, 3, 1, filter_type=1)
    rows = [("img1", bytearray(png1), len(png1)), ("img2", bytearray(png2), len(png2))]
    media = spark.createDataFrame(rows, ["media_id", "content", "n"]).select(
        "media_id",
        F.col("content").cast("binary").alias("content"),
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("png").alias("format"),
            F.col("n").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )
    out = {r.media_id: r.features for r in extract_features(media, n_features=8, decode_fn="image").collect()}
    w1, h1, c1, r_mean, g_mean, b_mean, _pad, std0 = out["img1"]
    assert (w1, h1, c1) == (4.0, 2.0, 3.0)
    assert abs(r_mean - (0xFF + 0x80) / 2 / 255.0) < 1e-9
    assert abs(g_mean - 0x80 / 2 / 255.0) < 1e-9
    assert abs(b_mean - 0x80 / 2 / 255.0) < 1e-9
    assert std0 > 0
    w2, h2, c2, m2, *_ = out["img2"]
    assert (w2, h2, c2) == (3.0, 3.0, 1.0)
    assert abs(m2 - (sum(range(0, 90, 10)) / 9) / 255.0) < 1e-9


def test_cosine_topk_arrow_equals_fold(spark, sf_dir):
    """The vectorized mapInArrow top-k must agree with the deterministic
    fold implementation: same neighbor sets, scores within float tolerance."""
    from mortar_parquet_support_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    fold = {(r.query_id, r.neighbor_id): r.cosine for r in cosine_topk(emb, qs, k=7).collect()}
    arrow = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_arrow(emb, qs, k=7).collect()
    }
    assert set(fold) == set(arrow)
    assert all(abs(fold[p] - arrow[p]) < 1e-9 for p in fold)
    assert len(fold) == 5 * 7


def test_cosine_topk_arrow_tie_break_across_partitions(spark):
    """Review finding r8: the batch-local argpartition cut made an
    ARBITRARY pick among score-tied candidates, so tied neighbors with
    smaller ids could be dropped before the global window ever saw them —
    results changed under repartitioning. Both paths must return the
    smallest-id neighbors on a fully tied corpus, on any partitioning."""
    from mortar_parquet_support_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    # unit basis vectors: every arithmetic step is EXACT (norm 1.0, dot
    # 1.0/0.0), so the tied scores are bit-identical across BLAS kernels —
    # the test isolates SELECTION determinism from the Arrow path's
    # documented ±1-ulp kernel-dependent rounding on general vectors
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(1, 9)] + [(100, [0.0, 1.0, 0.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    for parts in (1, 7):
        c = corpus.repartition(parts)
        exact = [(r.neighbor_id, r.rank) for r in cosine_topk(c, qs, k=3).collect()]
        arrow = [(r.neighbor_id, r.rank) for r in cosine_topk_arrow(c, qs, k=3).collect()]
        assert sorted(exact) == [(1, 1), (2, 2), (3, 3)]
        assert sorted(arrow) == [(1, 1), (2, 2), (3, 3)]


def test_ivf_trainer_tolerates_null_embeddings(spark):
    """Latent bug found via semantic_dedup: IvfIndex.build filtered NULL
    embeddings on its ASSIGNMENT scan but fed the raw corpus to the Lloyd
    trainer, where a NULL could seed a centroid (TypeError) or crash the
    Arrow partials scan. The trainer now filters at its own entry, on both
    the small and distributed paths."""
    from mortar_parquet_support_spark.operators.similarity import (
        IvfIndex,
        _centroids_small_rows,
        ivf_centroids,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    rows = _centroids_small_rows(
        corpus, id_col="vec_id", vec_col="embedding", n_list=2, iters=2, seed=42
    )
    assert rows and all(vec is not None for _, vec in rows)
    big = ivf_centroids(
        corpus, id_col="vec_id", vec_col="embedding", n_list=2, iters=1,
        _small=False,
    ).collect()
    assert big and all(r["centroid"] is not None for r in big)
    idx = IvfIndex.build(corpus, id_col="vec_id", vec_col="embedding", n_list=2)
    assert idx.assigned.filter("c_vec is null").count() == 0
    idx.unpersist()


def test_cosine_topk_degenerate_vectors_never_rank(spark):
    """Review finding r8 (worse than reported): a zero-norm or NULL vector
    used to THROW under ANSI in the exact path (DIVIDE_BY_ZERO) and to
    corrupt/mis-rank in the arrow path (norm clamp -> cosine 0.0 beats
    negatives; flatten() dropping NULL slots shifts the reshape). Contract
    now: degenerate rows never rank, in either path, and both paths agree."""
    from mortar_parquet_support_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    corpus = spark.createDataFrame(
        [
            (1, [-1.0, -2.0]),
            (2, [-2.0, -1.0]),
            (3, [0.0, 0.0]),       # zero norm: no direction
            (4, None),             # NULL vector
        ],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame([(9, [1.0, 2.0])], "vec_id long, embedding array<double>")
    exact = {(r.neighbor_id, r.rank) for r in cosine_topk(corpus, qs, k=4).collect()}
    arrow = {(r.neighbor_id, r.rank) for r in cosine_topk_arrow(corpus, qs, k=4).collect()}
    assert exact == arrow == {(2, 1), (1, 2)}  # 3 and 4 never appear
    # a zero-norm QUERY emits nothing (no cosine direction), also both paths
    zq = spark.createDataFrame([(9, [0.0, 0.0])], "vec_id long, embedding array<double>")
    assert cosine_topk(corpus, zq, k=2).count() == 0
    assert cosine_topk_arrow(corpus, zq, k=2).count() == 0


def test_cosine_topk_arrow_empty_queries_schema_matches(spark):
    """Review finding r8: the empty-queries early return hardcoded long id
    columns; with string ids a unionByName across query batches failed
    only on the empty batch."""
    from mortar_parquet_support_spark.operators.similarity import cosine_topk_arrow

    corpus = spark.createDataFrame(
        [("a", [1.0, 2.0])], "vec_id string, embedding array<double>"
    )
    qs = corpus.filter(F.col("vec_id") == "missing")
    out = cosine_topk_arrow(corpus, qs, k=2)
    assert out.count() == 0
    nonempty = cosine_topk_arrow(
        corpus, spark.createDataFrame([("q", [1.0, 1.0])], "vec_id string, embedding array<double>"), k=2
    )
    # same schema -> union succeeds
    assert out.unionByName(nonempty).count() == nonempty.count()


def test_lsh_multi_probe_widens_neighborhood(spark):
    """Review finding r8: multi_probe > 1 was a silent no-op (only 1-bit
    flips ever generated). The probe fan-out must now be
    1 + C(n,1) + ... + C(n,multi_probe) buckets per query."""
    from math import comb

    from mortar_parquet_support_spark.operators.similarity import LshIndex

    corpus = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    idx = LshIndex.build(corpus, n_planes=6, persist=False)
    q = spark.createDataFrame([(99, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    for mp in (0, 1, 2):
        want = sum(comb(6, r) for r in range(0, mp + 1))
        got = idx._query_probes(q, "vec_id", "embedding", mp).count()
        assert got == want, (mp, got, want)


def test_asof_join_duplicate_right_timestamps_deterministic(spark):
    """Review finding r8: several right rows sharing one (key, ts) were
    unordered window peers — last() matched whichever the shuffle placed
    last. Documented rule now: greatest by value struct, stable across
    partitionings."""
    import datetime as dt

    from mortar_parquet_support_spark.operators.timeseries import asof_join

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    right_rows = [("A", t0, float(v)) for v in (5, 1, 9, 3)]
    left = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1, 10, 5))], "k string, time timestamp"
    )
    for parts in (1, 8):
        right = spark.createDataFrame(
            right_rows, "k string, time timestamp, v double"
        ).repartition(parts)
        got = asof_join(left, right, on=["k"]).collect()
        assert len(got) == 1 and got[0]["v"] == 9.0


def test_ivf_index_amortized_probes(spark, sf_dir):
    """IvfIndex: build once (persisted assignment), probe with two query
    batches; results must match one-shot ivf_topk with identical params."""
    from mortar_parquet_support_spark.operators.similarity import IvfIndex, ivf_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = IvfIndex.build(emb, n_list=8, iters=1, persist=True)
    assert idx.assigned.storageLevel.useMemory  # actually persisted
    try:
        for lo, hi in [(0, 4), (4, 8)]:
            qs = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            got = {
                (r.query_id, r.neighbor_id)
                for r in idx.topk(qs, k=5, nprobe=8).collect()
            }
            want = {
                (r.query_id, r.neighbor_id)
                for r in ivf_topk(emb, qs, k=5, n_list=8, nprobe=8).collect()
            }
            assert got == want and len(got) == 4 * 5
    finally:
        idx.unpersist()
    assert not idx.assigned.storageLevel.useMemory


def test_decontaminate_flags_ngram_overlap(spark):
    """Docs sharing a word n-gram with the eval set are removed; others
    survive. A doc shorter than n words matches only as a whole document."""
    from mortar_parquet_support_spark.operators.curation import (
        contaminated_ids,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words about spark engines"),
            (3, "tiny doc"),
            (4, "another tiny doc entirely"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday"), (101, "tiny doc")],
        ["doc_id", "text"],
    )
    bad = {
        r.doc_id
        for r in contaminated_ids(
            corpus, eval_df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    # doc 1 shares "the quick brown"/"quick brown fox"; doc 3 IS "tiny doc"
    # (whole-doc fallback); doc 4 contains "tiny doc" only as a 2-gram, and
    # its own 3-grams ("another tiny doc", "tiny doc entirely") never occur
    # in the eval set
    assert bad == {1, 3}
    kept = decontaminate(
        corpus, eval_df, id_col="doc_id", text_col="text", ngram_words=3
    )
    assert {r.doc_id for r in kept.collect()} == {2, 4}
    assert kept.columns == corpus.columns


def test_domain_cap_keeps_best_n_per_domain(spark):
    from mortar_parquet_support_spark.operators.curation import domain_cap
    from pyspark.sql import functions as F

    rows = [(i, f"d{i % 3}", float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "domain", "quality"])
    capped = domain_cap(
        df,
        domain_col="domain",
        max_per_domain=2,
        order_by=[F.col("quality").desc(), F.col("id")],
    )
    got = {(r.domain, r.id) for r in capped.collect()}
    # top-2 by quality per domain: d0 -> 27, 24; d1 -> 28, 25; d2 -> 29, 26
    assert got == {("d0", 27), ("d0", 24), ("d1", 28), ("d1", 25), ("d2", 29), ("d2", 26)}
    assert capped.columns == df.columns
    # default ordering is content-hash based and deterministic across runs
    a = {tuple(r) for r in domain_cap(df, domain_col="domain", max_per_domain=2).collect()}
    b = {tuple(r) for r in domain_cap(df, domain_col="domain", max_per_domain=2).collect()}
    assert a == b and len(a) == 6


def test_repetition_ratios(spark):
    from mortar_parquet_support_spark.operators.text import (
        dup_ngram_ratio,
        dup_word_ratio,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),                 # all unique
            (2, "a a a a"),                 # 3 of 4 words repeat
            (3, "x y x y x y"),             # loops: dup bigrams high
            (4, ""),                        # empty
        ],
        ["id", "text"],
    )
    out = {
        r.id: (round(r.w, 6), round(r.b, 6))
        for r in df.select(
            "id",
            dup_word_ratio(F.col("text")).alias("w"),
            dup_ngram_ratio(F.col("text"), 2).alias("b"),
        ).collect()
    }
    assert out[1] == (0.0, 0.0)
    assert out[2] == (0.75, round(2 / 3, 6))  # bigrams: "a a" x3, 1 distinct
    assert out[4] == (0.0, 0.0)
    # doc 3: words x,y,x,y,x,y -> 4/6 dup words; bigrams "x y","y x","x y",
    # "y x","x y" -> 5 grams, 2 distinct -> 3/5 dup
    assert out[3] == (round(4 / 6, 6), 0.6)


def test_pii_mask_and_counts(spark):
    from mortar_parquet_support_spark.operators.curation import mask_pii, pii_counts

    df = spark.createDataFrame(
        [(1, "mail bob@x.co or +44 123 456-7890 from 10.0.0.1 done"), (2, "clean")],
        ["id", "text"],
    )
    rows = {r.id: r for r in df.select(
        "id", *pii_counts(F.col("text")), mask_pii(F.col("text")).alias("m")
    ).collect()}
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ip) == (1, 1, 1)
    assert rows[1].m == "mail <EMAIL> or <PHONE> from <IP> done"
    assert (rows[2].n_email, rows[2].n_phone, rows[2].n_ip) == (0, 0, 0)
    assert rows[2].m == "clean"


def test_chunk_text_overlap_and_reassembly(spark):
    from mortar_parquet_support_spark.operators.curation import chunk_text

    text = "".join(chr(ord("a") + i % 26) for i in range(25))
    df = spark.createDataFrame([(1, text), (2, ""), (3, "xy")], ["id", "text"])
    rows = chunk_text(
        df, id_col="id", text_col="text", chunk_chars=10, overlap=4
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, {})[r.chunk_id] = r.chunk
    # 25 chars, step 6: ceil((25-4)/6) = 4 chunks; consecutive chunks share
    # a 4-char overlap and cover the whole document
    c = by_id[1]
    assert len(c) == 4
    assert c[0] == text[0:10] and c[1] == text[6:16] and c[3] == text[18:25]
    assert all(c[i][-4:] == c[i + 1][:4] for i in range(2))
    reassembled = c[0] + "".join(c[i][4:] for i in range(1, 4))
    assert reassembled == text
    assert by_id[2] == {0: ""} and by_id[3] == {0: "xy"}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_text(df, id_col="id", text_col="text", chunk_chars=5, overlap=5)


def test_ivf_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """A saved+reloaded index answers identically to the in-memory one,
    and its probe plan prunes to the probed list_id partitions."""
    from mortar_parquet_support_spark.operators.similarity import IvfIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = IvfIndex.build(emb, n_list=8, iters=1, persist=False)
    path = str(tmp_path / "ivf")
    idx.save(path)
    reloaded = IvfIndex.load(spark, path)
    qs = emb.filter(F.col("vec_id") < 4)
    want = {(r.query_id, r.neighbor_id, round(r.cosine, 9))
            for r in idx.topk(qs, k=5, nprobe=3).collect()}
    got = {(r.query_id, r.neighbor_id, round(r.cosine, 9))
           for r in reloaded.topk(qs, k=5, nprobe=3).collect()}
    assert got == want and len(got) == 4 * 5
    # partition pruning: the assigned scan must carry a list_id filter
    from tests.conftest import plan_str

    p = plan_str(reloaded.topk(qs, k=5, nprobe=3))
    assert "PartitionFilters" in p or "dynamicpruning" in p, p


def test_ivf_append_to_saved(spark, sf_dir, tmp_path):
    """Incremental add: vectors appended to a saved index (fixed
    centroids) are found by the next load — and a FULL probe over the
    grown index equals brute force over the union corpus, so appended
    rows score identically to built ones."""
    from mortar_parquet_support_spark.operators.similarity import (
        IvfIndex,
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 5 != 0)
    later = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf")
    IvfIndex.build(first, n_list=8, iters=1, persist=False).save(path)
    IvfIndex.append_to_saved(spark, path, later)

    grown = IvfIndex.load(spark, path)
    qs = emb.filter(F.col("vec_id") < 4)
    got = {
        (r.query_id, r.neighbor_id, round(r.cosine, 9))
        for r in grown.topk(qs, k=5, nprobe=8).collect()  # full probe
    }
    want = {
        (r.query_id, r.neighbor_id, round(r.cosine, 9))
        for r in cosine_topk(emb, qs, k=5).collect()
    }
    assert got == want
    # appended ids actually live in the index (not just the originals)
    appended_ids = {r.vec_id for r in later.select("vec_id").collect()}
    assert appended_ids & {r.neighbor_id for r in grown.assigned.collect()}


def test_qhist_merge_is_exact(spark, sf_dir):
    """Re-aggregating hourly quantile-histogram state to daily must equal
    a direct daily rollup EXACTLY (bin counts sum losslessly — the
    property HLL union can only approximate)."""
    from mortar_parquet_support_spark.operators.sketches import (
        qhist_reaggregate,
        qhist_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = qhist_rollup(
        ev, value="value", keys=["event_type"], ts="ts", bucket="1 hour"
    )
    daily_from_hourly = qhist_reaggregate(
        hourly.withColumn("day", F.to_date("bucket")),
        group_cols=["day", "event_type"],
    )
    direct_daily = qhist_rollup(
        ev, value="value", keys=["event_type"], ts="ts", bucket="1 day"
    ).select(
        F.to_date("bucket").alias("day"), "event_type", "sign", "mag_bin", "cnt"
    )
    merged = {
        (str(r.day), r.event_type, r.sign, r.mag_bin): r.cnt
        for r in daily_from_hourly.collect()
    }
    direct = {
        (str(r.day), r.event_type, r.sign, r.mag_bin): r.cnt
        for r in direct_daily.collect()
    }
    assert merged == direct and merged


def test_qhist_quantiles_within_error_bound(spark, sf_dir):
    """Every estimated quantile must be within the documented relative
    error bound 10^(1/(2*bpd)) - 1 of the exact lower-invCDF percentile."""
    from mortar_parquet_support_spark.operators.sketches import (
        qhist_quantiles,
        qhist_rollup,
    )

    bpd = 20
    bound = 10 ** (1 / (2 * bpd)) - 1  # ~5.9%
    ev = load_table(spark, sf_dir, "events")
    state = qhist_rollup(ev, value="value", keys=["event_type"], bins_per_decade=bpd)
    est = {
        r.event_type: (r.p50, r.p95, r.p99, r.n)
        for r in qhist_quantiles(
            state, group_cols=["event_type"], qs=[0.5, 0.95, 0.99]
        ).collect()
    }
    import numpy as np

    rows = ev.select("event_type", "value").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    assert set(est) == set(by_type)
    for et, vals in by_type.items():
        vals = np.sort(np.array(vals))
        p50e, p95e, p99e, n = est[et]
        assert n == len(vals)
        for q, got in ((0.5, p50e), (0.95, p95e), (0.99, p99e)):
            # exact lower-invCDF percentile: first value with rank >= q*n
            import math

            exact = vals[min(len(vals) - 1, math.ceil(q * len(vals)) - 1)]
            assert abs(got / exact - 1) <= bound + 1e-12, (et, q, got, exact)


def test_qhist_signs_zero_and_nulls(spark):
    """Negative values, zero, and NULLs: zero gets its own (0, 0) bin,
    NULLs are dropped, and quantiles come back in true value order
    (negative bins flip their order key)."""
    from mortar_parquet_support_spark.operators.sketches import (
        qhist_quantiles,
        qhist_rollup,
    )

    vals = [-1000.0, -1.0, 0.0, 0.5, 2.0, 3000.0, None]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    state = qhist_rollup(df, value="v", keys=["g"])
    rows = {(r.sign, r.mag_bin): r.cnt for r in state.collect()}
    assert sum(rows.values()) == 6  # NULL dropped
    assert rows[(0, 0)] == 1
    assert sum(c for (s, _), c in rows.items() if s == -1) == 2
    out = qhist_quantiles(
        state, group_cols=["g"], qs=[0.01, 0.5, 0.99]
    ).collect()[0]
    # p1 must land in the most-negative bin (~ -1000), p99 in the largest
    assert out.p1 < -500 and out.p99 > 1000
    # median of [-1000,-1,0,0.5,2,3000] (lower invCDF, rank 3) = 0
    assert out.p50 == 0.0


def test_hll_rollup_reaggregation_is_lossless(spark, sf_dir):
    """Union of hourly sketches must match a direct daily sketch: exactly
    in sparse mode (small cardinalities), and within a whisker in dense
    mode — the Datasketches union gadget is HLL_8 internally, so its
    estimate can differ by ~±0.5% from a directly built HLL_4 sketch
    (observed ±2 on ~550 distinct at sf0.1). Row counts must always sum
    exactly, and estimates must be within HLL error of exact counts."""
    from mortar_parquet_support_spark.operators.sketches import (
        hll_reaggregate,
        hll_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = hll_rollup(
        ev, ts="ts", bucket="1 hour", keys=["event_type"],
        distinct_cols=["user_id"],
    )
    daily_from_hourly = hll_reaggregate(
        hourly.withColumn("day", F.to_date("bucket")),
        group_cols=["day", "event_type"],
        sketch_cols=["user_id"],
    )
    direct_daily = hll_rollup(
        ev, ts="ts", bucket="1 day", keys=["event_type"],
        distinct_cols=["user_id"],
    ).select(
        F.to_date("bucket").alias("day"), "event_type",
        F.hll_sketch_estimate("user_id_sketch").alias("user_id_distinct"), "n",
    )
    merged = {
        (str(r.day), r.event_type): (r.user_id_distinct, r.n)
        for r in daily_from_hourly.collect()
    }
    direct = {
        (str(r.day), r.event_type): (r.user_id_distinct, r.n)
        for r in direct_daily.collect()
    }
    assert set(merged) == set(direct)
    for k, (est_m, n_m) in merged.items():
        est_d, n_d = direct[k]
        assert n_m == n_d, k  # row counts sum exactly
        # bound: 1% (< the sketch's own ~1.6% rsd at lg_k=12), floor of 4
        assert abs(est_m - est_d) <= max(4, 0.01 * est_d), (k, est_m, est_d)

    exact = {
        (str(r.day), r.event_type): r.nd
        for r in ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count_distinct("user_id").alias("nd"))
        .collect()
    }
    assert set(merged) == set(exact)
    for k, (est, _n) in merged.items():
        assert abs(est - exact[k]) / max(exact[k], 1) < 0.05, (k, est, exact[k])


def test_asof_join_nearest_matches_pandas(spark):
    """direction='nearest' (and the others) against merge_asof on a random
    fixture, including tolerance."""
    import random

    rng = random.Random(7)
    lrows = [("k", float(rng.randint(0, 500)), i) for i in range(40)]
    rrows = [("k", float(rng.randint(0, 500)), float(i)) for i in range(25)]
    left = spark.createDataFrame(lrows, ["k", "t", "lid"]).select(
        "k", F.col("t").cast("timestamp").alias("t"), "lid"
    )
    right = spark.createDataFrame(rrows, ["k", "t", "rv"]).select(
        "k", F.col("t").cast("timestamp").alias("t"), "rv"
    )
    lp = left.toPandas().sort_values(["t", "lid"]).reset_index(drop=True)
    rp = (
        right.toPandas().sort_values("t")
        .drop_duplicates(subset=["k", "t"], keep="first")
        .reset_index(drop=True)
    )
    # dedupe right timestamps on the Spark side the same way pandas saw it
    rspark = spark.createDataFrame(rp)
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, "60 seconds"):
            out = timeseries.asof_join(
                left, rspark, on=["k"], ts="t", direction=direction, tolerance=tol
            )
            got = {r.lid: r.rv for r in out.collect()}
            exp = pd.merge_asof(
                lp, rp, on="t", by="k", direction=direction,
                tolerance=None if tol is None else pd.Timedelta(seconds=60),
            )
            want = {
                int(r.lid): None if pd.isna(r.rv) else float(r.rv)
                for r in exp.itertuples()
            }
            assert got == want, (direction, tol)


def test_resample_interpolate_matches_pandas(spark):
    """fill='interpolate' against pandas interpolate() on a resampled grid:
    interior gaps linear, trailing carries last value, leading stays null."""
    rows = [
        ("s", 900.0, None),     # leading gap (grid starts at first OBS bucket)
        ("s", 1800.0, 2.0),
        ("s", 5400.0, 10.0),    # two missing buckets between -> 2 -> 10
        ("s", 7200.0, None),    # trailing gap
        ("s", 8100.0, 4.0),
        ("s", 9900.0, None),
    ]
    df = spark.createDataFrame(rows, ["uuid", "t", "value"]).select(
        "uuid", F.col("t").cast("timestamp").alias("time"), "value"
    )
    out = timeseries.resample(df, step="15 minutes", how="last", fill="interpolate")
    got = [
        (int(r.time.timestamp()), r.value)
        for r in out.orderBy("time").collect()
    ]
    # rebuild the same 900..9900 grid in pandas and interpolate
    idx = list(range(900, 9901, 900))
    obs = {1800: 2.0, 5400: 10.0, 8100: 4.0}
    grid = pd.Series([obs.get(t) for t in idx], index=idx, dtype="float64")
    want = grid.interpolate(method="linear")
    expected = [
        (t, None if pd.isna(v) else float(v)) for t, v in want.items()
    ]
    assert got == expected


def test_ewma_matches_pandas_per_stream(spark):
    rows = [
        ("a", float(t), v)
        for t, v in [(0, 1.0), (60, 2.0), (120, None), (180, 10.0), (240, 3.0)]
    ] + [("b", 0.0, 5.0), ("b", 60.0, None), ("b", 120.0, 7.0)]
    df = spark.createDataFrame(rows, ["uuid", "t", "value"]).select(
        "uuid", F.col("t").cast("timestamp").alias("time"), "value"
    )
    out = timeseries.ewma(df, alpha=0.5)
    got = {
        (r.uuid, int(r.time.timestamp())): None if r.ewma is None else round(r.ewma, 9)
        for r in out.collect()
    }
    pdf = df.toPandas()
    for k, grp in pdf.groupby("uuid"):
        grp = grp.sort_values("time")
        exp = grp["value"].ewm(alpha=0.5, ignore_na=True).mean()
        for (_, row), e in zip(grp.iterrows(), exp):
            key = (k, int(row.time.timestamp()))
            want = None if pd.isna(e) else round(float(e), 9)
            assert got[key] == want, (key, got[key], want)


def test_stream_interval_join_equals_batch(spark, sf_dir):
    """Streaming interval join (watermarked stream-stream) must equal the
    batch banded self-join on the finite dataset."""
    from mortar_parquet_support_spark.streaming.rollup import (
        stream_interval_join_once,
    )

    got = {
        (r.user_id, r.event_id, r.event_id_r)
        for r in stream_interval_join_once(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    p = ev.filter(F.col("event_type") == "purchase")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), F.col("event_id").alias("click_id"), F.col("ts").alias("ts2")
    )
    batch = p.join(
        c,
        (p.user_id == c.u2)
        & (c.ts2 >= p.ts - F.expr("interval 300 seconds"))
        & (c.ts2 <= p.ts + F.expr("interval 300 seconds")),
    )
    want = {(r.user_id, r.event_id, r.click_id) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_wav_decode_known_signal():
    """Stdlib WAV decoder against a synthesized sine: duration, rate, RMS
    (1/sqrt(2) for a sine), and zero-crossing rate (2 crossings per cycle)
    must come out right."""
    import math

    from mortar_parquet_support_spark.operators.audio import make_wav, wav_features

    rate, secs, freq = 8000, 2, 100.0
    samples = [math.sin(2 * math.pi * freq * t / rate) for t in range(rate * secs)]
    feats = wav_features(make_wav(samples, rate=rate), 16)
    duration, srate, ch, width, rms, peak, zcr, mean = feats[:8]
    assert duration == pytest.approx(2.0)
    assert (srate, ch, width) == (8000.0, 1.0, 2.0)
    assert rms == pytest.approx(1 / math.sqrt(2), rel=1e-3)
    assert peak == pytest.approx(1.0, rel=1e-3)
    assert zcr == pytest.approx(2 * freq / rate, rel=0.02)
    assert abs(mean) < 1e-3
    with pytest.raises(ValueError):
        wav_features(b"RIFFgarbage")


def test_multimodal_real_audio_decode(spark):
    """extract_features(decode_fn='real') runs the WAV decoder through the
    Arrow/mapInPandas plumbing end to end."""
    import math

    from mortar_parquet_support_spark.operators.audio import make_wav
    from mortar_parquet_support_spark.operators import multimodal

    rate = 4000
    wav = make_wav(
        [math.sin(2 * math.pi * 50 * t / rate) for t in range(rate)], rate=rate
    )
    df = spark.createDataFrame(
        [("a1.wav", wav)], ["media_id", "content"]
    ).withColumn(
        "meta",
        F.struct(
            F.lit("audio").alias("modality"),
            F.length("content").cast("long").alias("n_bytes"),
        ),
    )
    out = multimodal.extract_features(df, n_features=8, decode_fn="real").collect()
    assert len(out) == 1
    row = out[0]
    assert row.modality == "audio" and row.features[0] == pytest.approx(1.0)
    assert row.features[1] == float(rate)


def test_pack_sequences_contiguous_budget_bins(spark):
    from mortar_parquet_support_spark.operators.curation import pack_sequences

    rows = [(i, 30) for i in range(20)]  # uniform cost 30, budget 100
    df = spark.createDataFrame(rows, ["doc_id", "cost"])
    out = pack_sequences(
        df, id_col="doc_id", cost_col="cost", budget=100, shards=2
    ).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append((r.doc_id, r.bin))
    for shard, lst in by_shard.items():
        lst.sort()
        # 10 docs/shard x 30 cost: start offsets 0,30,...,270 ->
        # bins 0,0,0,0(90<100? start 90 -> bin 0),1,1,1,2,2,2
        bins = [b for _, b in lst]
        assert bins == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    # deterministic across runs
    again = pack_sequences(
        df, id_col="doc_id", cost_col="cost", budget=100, shards=2
    ).collect()
    assert {(r.doc_id, r.shard, r.bin) for r in out} == {
        (r.doc_id, r.shard, r.bin) for r in again
    }


def test_resolve_duplicates_keeps_one_per_cluster(spark):
    from mortar_parquet_support_spark.operators.dedup import resolve_duplicates

    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(7)], ["doc_id", "text"]
    )
    # clusters: {0,1,2} (chained), {4,5}; 3 and 6 untouched
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"]
    )
    kept = resolve_duplicates(df, pairs, id_col="doc_id")
    assert {r.doc_id for r in kept.collect()} == {0, 3, 4, 6}
    assert kept.columns == df.columns


def test_stream_distinct_rollup_equals_batch(spark, sf_dir):
    """Streaming HLL++ distinct rollup == identical batch aggregation
    (HLL merges are deterministic and order-independent)."""
    from mortar_parquet_support_spark.streaming.rollup import (
        stream_distinct_rollup_once,
    )

    got = {
        (str(r.bucket), r.event_type): r.nd
        for r in stream_distinct_rollup_once(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("nd"))
        .select(F.col("w.start").alias("bucket"), "event_type", "nd")
    )
    want = {(str(r.bucket), r.event_type): r.nd for r in batch.collect()}
    assert got == want and len(got) > 10
    # sanity: estimates within rsd-ish of exact
    exact = {
        (str(r.bucket), r.event_type): r.nd
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count_distinct("user_id").alias("nd"))
        .select(F.col("w.start").alias("bucket"), "event_type", "nd")
        .collect()
    }
    for k, est in got.items():
        # relative rsd-ish bound for real cardinalities, absolute slack of 2
        # for tiny groups where HLL's relative guarantee doesn't apply
        # (observed: est 7 vs exact 8 at sf0.01)
        assert abs(est - exact[k]) <= max(2, 0.1 * exact[k]), (k, est, exact[k])


def test_strip_boilerplate_lines(spark):
    from mortar_parquet_support_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    banner = "Accept cookies"
    docs = [
        (1, f"{banner}\nreal content one\nmore text"),
        (2, f"real content two\n{banner}\ntail"),
        (3, f"  accept COOKIES  \nunique three"),   # normalized match
        (4, banner),                                 # fully boilerplate
        (5, "no banner here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: r.text
        for r in strip_boilerplate_lines(
            df, id_col="doc_id", text_col="text", min_docs=3
        ).collect()
    }
    assert out[1] == "real content one\nmore text"
    assert out[2] == "real content two\ntail"       # order preserved
    assert out[3] == "unique three"
    assert out[4] == ""                             # empty, not missing
    assert out[5] == "no banner here"
    assert len(out) == 5


def test_strip_boilerplate_literal_separator(spark):
    """Regex-metachar separators split literally and rejoin identically."""
    from mortar_parquet_support_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(1, "keep me|SPAM|also keep"), (2, "SPAM|fine"), (3, "SPAM|solo")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.text
        for r in strip_boilerplate_lines(
            df, id_col="doc_id", text_col="text", min_docs=3, sep="|"
        ).collect()
    }
    assert out == {1: "keep me|also keep", 2: "fine", 3: "solo"}


def test_curation_ops_tolerate_null_text(spark):
    """Null text never crashes a curation op: chunking keeps the doc (one
    null chunk), decontamination keeps it, ratios are 0, fingerprints and
    masks stay null, boilerplate-stripping returns an empty string."""
    from mortar_parquet_support_spark.operators.curation import (
        chunk_text,
        decontaminate,
        mask_pii,
        strip_boilerplate_lines,
    )
    from mortar_parquet_support_spark.operators.text import (
        dup_ngram_ratio,
        dup_word_ratio,
        fingerprint,
    )

    df = spark.createDataFrame([(1, "hello world"), (2, None)], ["doc_id", "text"])
    assert chunk_text(df, id_col="doc_id", text_col="text").count() == 2
    ev = spark.createDataFrame([(9, "nothing shared")], ["doc_id", "text"])
    assert decontaminate(df, ev, id_col="doc_id", text_col="text").count() == 2
    row = df.filter("doc_id = 2").select(
        mask_pii(F.col("text")).alias("m"),
        dup_word_ratio(F.col("text")).alias("w"),
        dup_ngram_ratio(F.col("text"), 2).alias("b"),
        fingerprint(F.col("text")).alias("fp"),
    ).first()
    assert row.m is None and row.fp is None and (row.w, row.b) == (0.0, 0.0)
    stripped = {
        r.doc_id: r.text
        for r in strip_boilerplate_lines(
            df, id_col="doc_id", text_col="text", min_docs=5
        ).collect()
    }
    assert stripped == {1: "hello world", 2: ""}


def test_hll_sketches_survive_parquet_roundtrip(spark, sf_dir, tmp_path):
    """The point of mergeable sketches is STORING them: write hourly
    sketch state to parquet, reload, re-aggregate — estimates must equal
    re-aggregating the in-memory frame."""
    from mortar_parquet_support_spark.operators.sketches import (
        hll_reaggregate,
        hll_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = hll_rollup(
        ev, ts="ts", bucket="1 hour", keys=["event_type"], distinct_cols=["user_id"]
    )
    path = str(tmp_path / "sketches")
    hourly.write.parquet(path)
    reloaded = spark.read.parquet(path)
    want = {
        (str(r.day), r.event_type): (r.user_id_distinct, r.n)
        for r in hll_reaggregate(
            hourly.withColumn("day", F.to_date("bucket")),
            group_cols=["day", "event_type"], sketch_cols=["user_id"],
        ).collect()
    }
    got = {
        (str(r.day), r.event_type): (r.user_id_distinct, r.n)
        for r in hll_reaggregate(
            reloaded.withColumn("day", F.to_date("bucket")),
            group_cols=["day", "event_type"], sketch_cols=["user_id"],
        ).collect()
    }
    assert got == want


def test_pack_sequences_capacity_property(spark):
    """Every bin's total cost stays under budget + one item (the straddling
    item), and bins are contiguous in id order within a shard."""
    import random

    from mortar_parquet_support_spark.operators.curation import pack_sequences

    rng = random.Random(3)
    rows = [(i, rng.randint(1, 120)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "cost"])
    out = pack_sequences(df, id_col="doc_id", cost_col="cost", budget=256, shards=4)
    data = out.collect()
    by_bin = {}
    for r in data:
        by_bin.setdefault((r.shard, r.bin), []).append((r.doc_id, r.cost))
    for (shard, b), items in by_bin.items():
        total = sum(c for _, c in items)
        assert total <= 256 + 120  # budget + max item (straddle slack)
    # contiguity: within a shard, doc ids in bin k all precede bin k+1's
    by_shard = {}
    for r in data:
        by_shard.setdefault(r.shard, []).append((r.doc_id, r.bin))
    for shard, items in by_shard.items():
        items.sort()
        bins = [b for _, b in items]
        assert bins == sorted(bins)


def test_top_tokens_deterministic_order(spark):
    from mortar_parquet_support_spark.operators.text import top_tokens

    df = spark.createDataFrame(
        [(1, "b a a B"), (2, "c a  b")], ["doc_id", "text"]
    )
    rows = [(r.token, r.freq) for r in top_tokens(df, text_col="text", k=10).collect()]
    assert rows == [("a", 3), ("b", 3), ("c", 1)]  # freq desc, token asc ties


def test_resize_nearest_buffer():
    """Vectorized nearest-neighbor resample: exact index-map semantics."""
    import numpy as np

    from mortar_parquet_support_spark.operators.imaging import resize_nearest

    # 2x2 RGB distinct corners
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0])
    up = resize_nearest(px, 2, 2, 3, 4, 4)
    arr = np.frombuffer(up, np.uint8).reshape(4, 4, 3)
    # each source pixel becomes a 2x2 block
    assert arr[0, 0].tolist() == [255, 0, 0] and arr[1, 1].tolist() == [255, 0, 0]
    assert arr[0, 3].tolist() == [0, 255, 0]
    assert arr[3, 0].tolist() == [0, 0, 255]
    assert arr[3, 3].tolist() == [255, 255, 0]
    # downsample back picks the block anchors -> original image
    assert resize_nearest(up, 4, 4, 3, 2, 2) == px


def test_multimodal_resize_images(spark):
    """resize_images: real PNG decode -> NN resample -> re-encode through
    mapInPandas; meta dims/size updated; non-image rows pass through."""
    from pyspark.sql import functions as F

    from mortar_parquet_support_spark.operators.imaging import decode_png, encode_png
    from mortar_parquet_support_spark.operators.multimodal import resize_images

    red, blue = b"\xff\x00\x00", b"\x00\x00\xff"
    # 2x2: red top row, blue bottom row
    png = encode_png(red * 2 + blue * 2, 2, 2, 3, filter_type=2)
    wav = b"not an image"
    rows = [
        ("img", bytearray(png), "image", "png"),
        ("aud", bytearray(wav), "audio", "wav"),
    ]
    media = spark.createDataFrame(
        rows, ["media_id", "content", "modality", "fmt"]
    ).select(
        "media_id",
        F.col("content").cast("binary").alias("content"),
        F.struct(
            F.col("modality"),
            F.col("fmt").alias("format"),
            F.length("content").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )
    out = {r.media_id: r for r in resize_images(media, width=4, height=4).collect()}
    w, h, ch, pix = decode_png(bytes(out["img"].content))
    assert (w, h, ch) == (4, 4, 3)
    assert out["img"].meta.width == 4 and out["img"].meta.height == 4
    assert out["img"].meta.n_bytes == len(bytes(out["img"].content))
    # top half red, bottom half blue after 2x upsample
    assert pix[:3] == red and pix[3 * 4 * 2 :][:3] == blue
    # audio row untouched, byte-for-byte
    assert bytes(out["aud"].content) == wav


def test_minhash_null_text_docs_have_no_signature(spark):
    """NULL-text docs must vanish from the signature set (historical
    posexplode-of-NULL behavior) — otherwise every NULL doc shares one
    all-NULL shingle and they all pairwise-collide in LSH, a quadratic
    candidate blowup."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, None)], ["doc_id", "text"]
    )
    sigs = dedup.minhash_signatures(df, id_col="doc_id", text_col="text")
    assert [r.id for r in sigs.select("id").collect()] == [1]
    pairs = dedup.minhash_dedup(df, id_col="doc_id", text_col="text", threshold=0.1)
    assert pairs.count() == 0  # and no (2, 3) phantom pair downstream


def test_ivf_big_centroid_path_equals_small(spark, monkeypatch):
    """The distributed big-centroid fallback (n_list*dim beyond the driver
    bound: window-numbered seeds, broadcast-join assignment, window probe)
    must produce the same full-probe results as the driver-resident path,
    with nothing centroid-sized collected."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)

    small_idx = similarity.IvfIndex.build(emb, n_list=4, persist=False)
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in small_idx.topk(qs, k=3, nprobe=4).collect()
    }
    assert small_idx.cent_rows is not None  # took the driver path

    monkeypatch.setattr(similarity.IvfIndex, "MAX_DRIVER_CELLS", 8)
    big_idx = similarity.IvfIndex.build(emb, n_list=4, persist=False)
    assert big_idx.cent_rows is None  # took the distributed path
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in big_idx.topk(qs, k=3, nprobe=4).collect()
    }
    big_idx.centroids.unpersist()
    # full probe (nprobe == n_list) is exact on both paths -> identical
    assert got == want and len(got) == 5 * 3


# ------------------------------------------- round-7 review-fix regressions
def test_resample_last_is_by_time_not_row_order(spark):
    """how='last' must pick the latest-by-timestamp value in the bucket,
    independent of partitioning (F.last in a groupBy agg was row-order
    dependent)."""
    rows = [("s", 60.0, 5.0), ("s", 840.0, 9.0), ("s", 300.0, None)]
    df = (
        spark.createDataFrame(rows, ["uuid", "t", "value"])
        .select("uuid", F.col("t").cast("timestamp").alias("time"), "value")
        .repartition(8)  # adversarial row order
    )
    out = timeseries.resample(df, step="15 minutes", how="last", fill=None)
    assert [r.value for r in out.collect()] == [9.0]
    first = timeseries.resample(df, step="15 minutes", how="first", fill=None)
    assert [r.value for r in first.collect()] == [5.0]


def test_asof_join_empty_right_cols_means_none(spark):
    left = spark.createDataFrame([("a", 10.0, 1)], ["k", "t", "lid"]).select(
        "k", F.col("t").cast("timestamp").alias("t"), "lid"
    )
    right = spark.createDataFrame([("a", 9.0, 7.0)], ["k", "t", "rv"]).select(
        "k", F.col("t").cast("timestamp").alias("t"), "rv"
    )
    out = timeseries.asof_join(left, right, on=["k"], ts="t", right_cols=[])
    assert "rv" not in out.columns  # explicit [] is not "all columns"


def test_topk_per_group_schema_clean_and_rank_col(spark):
    df = spark.createDataFrame([("a", 1, 99), ("a", 2, 98)], ["k", "v", "rn"])
    out = timeseries.topk_per_group(df, keys=["k"], order_by=["v"], k=1)
    assert out.columns == df.columns  # no stray helper, 'rn' data intact
    assert out.first().rn == 99
    ranked = timeseries.topk_per_group(
        df.drop("rn"), keys=["k"], order_by=["v"], k=2, rank_col="r"
    )
    assert [r.r for r in ranked.orderBy("v").collect()] == [1, 2]


def test_hash_split_thirds_is_exhaustive(spark):
    from mortar_parquet_support_spark.operators import sampling

    df = spark.range(3000).withColumnRenamed("id", "doc_id")
    out = sampling.hash_split(df, "doc_id", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert out.filter(F.col("split").isNull()).count() == 0
    assert out.select("split").distinct().count() == 3


def test_pack_sequences_string_ids_shard(spark):
    from mortar_parquet_support_spark.operators.curation import pack_sequences

    rows = [(f"uuid-{i}", 100) for i in range(200)]
    df = spark.createDataFrame(rows, ["uuid", "tokens"])
    out = pack_sequences(df, id_col="uuid", cost_col="tokens", budget=500, shards=8)
    shards = [r.shard for r in out.select("shard").distinct().collect()]
    assert None not in shards  # string ids must hash, not cast-to-NULL
    assert len(shards) > 1  # actually distributed across shards


def test_strip_boilerplate_keeps_blank_lines(spark):
    from mortar_parquet_support_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    docs = [(i, f"unique {i}\n\nNAV BAR") for i in range(12)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: r.text
        for r in strip_boilerplate_lines(
            df, id_col="doc_id", text_col="text", min_docs=10
        ).collect()
    }
    # NAV BAR (in all 12 docs) stripped; the blank line survives
    assert out[0] == "unique 0\n"


def test_streaming_interval_seconds_shares_batch_grammar():
    from mortar_parquet_support_spark.streaming.rollup import _interval_seconds

    assert _interval_seconds("1 week") == 604800
    assert _interval_seconds(" 30 minutes ") == 1800


def test_stateful_sessionize_late_event_no_regression(spark, tmp_path):
    """A late (within-watermark) event arriving in a LATER micro-batch must
    fold into the open session without moving its high-water mark backward
    — the regression falsely split one continuous session. Also exercises
    custom ts/key names and a string key (previously hardcoded)."""
    import datetime as _dt

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    from mortar_parquet_support_spark.streaming.rollup import (
        stateful_sessionize_stream,
    )

    schema = StructType(
        [StructField("dev", StringType()), StructField("event_time", TimestampType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = lambda h, m: _dt.datetime(2024, 5, 1, h, m)  # noqa: E731

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(str(src) + "/*")
        )
        sess = stateful_sessionize_stream(
            stream, key="dev", ts="event_time", gap="30 minutes", watermark="2 hours"
        )
        emitted = []
        q = (
            sess.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _id: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)  # state survives across runs
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    # batch 1: open session for device A at 10:00
    assert run_batch([("devA", t(10, 0))], "b1") == []
    # batch 2: late 09:50 + on-time 10:25 — all within 30-min gaps of the
    # 10:00 mark, so the session must STAY OPEN (the bug emitted a split)
    out = run_batch([("devA", t(9, 50)), ("devA", t(10, 25))], "b2")
    assert out == [], [tuple(r) for r in out]


def test_stateful_sessionize_too_early_late_event_own_session(spark, tmp_path):
    """A late event arriving MORE than a gap before the open session's
    start must not be folded in (batch gap-split places it in a separate
    earlier session) — and, review finding r8, that earlier session must
    NOT be emitted until the watermark seals it: another late event in a
    yet-later micro-batch (08:20 in batch 3 here) can still extend it,
    and the eager emission fragmented what batch semantics merges."""
    import datetime as _dt

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    from mortar_parquet_support_spark.streaming.rollup import (
        stateful_sessionize_stream,
    )

    schema = StructType(
        [StructField("dev", StringType()), StructField("event_time", TimestampType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = lambda h, m: _dt.datetime(2024, 5, 1, h, m)  # noqa: E731

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(str(src) + "/*")
        )
        sess = stateful_sessionize_stream(
            stream, key="dev", ts="event_time", gap="30 minutes", watermark="4 hours"
        )
        emitted = []
        q = (
            sess.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _id: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    # batch 1: open session for device A at 10:00
    assert run_batch([("devA", t(10, 0))], "b1") == []
    # batch 2: two late events at 08:00/08:10 (chained: 10 min apart) plus
    # an in-gap 10:05. 08:xx precede 10:00 by > gap → their own pending
    # session — NOT emitted yet: the 4h watermark still admits events that
    # could extend it.
    out = run_batch(
        [("devA", t(8, 0)), ("devA", t(8, 10)), ("devA", t(10, 5))], "b2"
    )
    assert out == [], [tuple(r) for r in out]
    # batch 3: 08:20 is late but admitted (watermark 06:05) and EXTENDS the
    # pending early session — the old eager emission had already emitted
    # 08:00-08:10 and would fragment here. 14:00 advances the watermark to
    # 10:00, sealing the early session (08:50 < 10:00); the 10:00-10:05
    # session (seal point 10:35) stays pending.
    out = run_batch([("devA", t(8, 20)), ("devA", t(14, 0))], "b3")
    got = [(r.key, r.session_start, r.session_end, r.n_events) for r in out]
    assert got == [("devA", t(8, 0), t(8, 20), 3)], got
    # batch 4: push the watermark far past every pending seal point and
    # assert FULL batch parity — the union of everything the stream ever
    # emitted must equal the batch gaps-and-islands sessionization of the
    # complete trace (the sentinel's own singleton session included).
    out += run_batch([("devA", t(23, 0))], "b4")
    all_rows = [
        ("devA", t(10, 0)), ("devA", t(8, 0)), ("devA", t(8, 10)),
        ("devA", t(10, 5)), ("devA", t(8, 20)), ("devA", t(14, 0)),
        ("devA", t(23, 0)),
    ]
    from mortar_parquet_support_spark.operators.timeseries import sessionize

    batch = (
        sessionize(
            spark.createDataFrame(all_rows, schema),
            ts="event_time", keys=["dev"], gap="30 minutes",
        )
        .groupBy("dev", "session_id")
        .agg(
            F.min("event_time").alias("s"),
            F.max("event_time").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    expect = {(r.dev, r.s, r.e, r.n) for r in batch}
    streamed = {(r.key, r.session_start, r.session_end, r.n_events) for r in out}
    # the final sentinel session (23:00) can still be pending; everything
    # the stream emitted must be a batch session, and every batch session
    # except possibly the unsealed tail must have been emitted
    assert streamed <= expect, (streamed, expect)
    assert expect - streamed <= {("devA", t(23, 0), t(23, 0), 1)}, (
        expect - streamed
    )


def test_stateful_sessionize_split_bridges_pending_early_chain(spark, tmp_path):
    """Review finding r8: when a gap-split closes the open session, a
    pending early chain that a later fold brought to within gap of the
    session start must merge into the CLOSED session — emitting the two
    separately is a spurious split batch gaps-and-islands never produces."""
    import datetime as _dt

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    from mortar_parquet_support_spark.streaming.rollup import (
        stateful_sessionize_stream,
    )

    schema = StructType(
        [StructField("dev", StringType()), StructField("event_time", TimestampType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = lambda h, m: _dt.datetime(2024, 5, 1, h, m)  # noqa: E731

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(str(src) + "/*")
        )
        sess = stateful_sessionize_stream(
            stream, key="dev", ts="event_time", gap="30 minutes", watermark="4 hours"
        )
        emitted = []
        q = (
            sess.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _id: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    # batch 1: open session at 10:00
    assert run_batch([("devA", t(10, 0))], "b1") == []
    # batch 2: 09:25 is > gap before 10:00 (early chain); 09:45 bridges it
    # to the 10:00 session — batch semantics over {09:25, 09:45, 10:00,
    # 12:00} is ONE session 09:25-10:00 plus an open 12:00. Neither is
    # watermark-sealed yet (wm 08:00 < 10:30), so nothing emits.
    out = run_batch(
        [("devA", t(9, 25)), ("devA", t(9, 45)), ("devA", t(12, 0))], "b2"
    )
    assert out == [], [tuple(r) for r in out]
    # batch 3: 16:00 advances the watermark to 12:00 > the merged
    # session's seal point (10:30) — it emits as ONE session; 12:00
    # (seal 12:30) and 16:00 stay pending.
    out = run_batch([("devA", t(16, 0))], "b3")
    got = [(r.key, r.session_start, r.session_end, r.n_events) for r in out]
    assert got == [("devA", t(9, 25), t(10, 0), 3)], got


def test_staged_columns_keeps_shared_subexpressions_single(spark):
    """staged_columns must leave a multi-referenced expensive alias in its
    own projection: the optimized plan contains the split() subtree ONCE,
    where the inlined form duplicates it per consumer."""
    from pyspark.sql import functions as F

    from mortar_parquet_support_spark.functions import staged_columns

    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("a b c",)], ["text"]
    )
    staged = staged_columns(
        df,
        {"words": F.split(F.lower(F.col("text")), r"\s+")},
        {
            "n_words": F.size(F.col("words")),
            "n_the": F.size(F.filter(F.col("words"), lambda w: w == F.lit("the"))),
        },
        {"ratio": F.col("n_the") / F.col("n_words")},
    ).select("text", "ratio")
    rows = {r.text: r.ratio for r in staged.collect()}
    assert abs(rows["the cat sat on the mat"] - 2 / 6) < 1e-9
    assert rows["a b c"] == 0.0

    plan = staged._jdf.queryExecution().optimizedPlan().toString()
    inline_words = F.split(F.lower(F.col("text")), r"\s+")
    inlined = df.select(
        "text",
        (
            F.size(F.filter(inline_words, lambda w: w == F.lit("the")))
            / F.size(inline_words)
        ).alias("ratio"),
    )
    inline_plan = inlined._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert inline_plan.count("split(") > 1  # the failure mode being avoided


def test_lsh_index_build_probe_save_load(spark, embeddings, tmp_path):
    """LshIndex: persisted build is probed without re-bucketing (the probe
    plan reads the in-memory bucketed corpus), save/load reproduces the
    one-shot lsh_topk results exactly, and multi-probe recall dominates
    single-probe recall on planted near-duplicates."""
    base = embeddings.limit(20).collect()
    planted = [
        (r.vec_id + 100000, [v * 0.999 + 0.001 for v in r.embedding], r.label)
        for r in base
    ]
    corpus = embeddings.unionByName(
        spark.createDataFrame(planted, embeddings.schema.names)
    )
    queries = spark.createDataFrame(base, embeddings.schema.names)

    index = similarity.LshIndex.build(corpus, n_planes=8, persist=True)
    try:
        out = index.topk(queries, k=1)
        # the probe reuses the persisted bucketed corpus — no re-bucketing
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan

        got = {r.query_id: r.neighbor_id for r in out.collect()}
        oneshot = similarity.lsh_topk(corpus, queries, k=1, n_planes=8)
        expect = {r.query_id: r.neighbor_id for r in oneshot.collect()}
        assert got == expect

        # save/load round-trip: same signatures (meta pins n_planes/seed),
        # same results
        index.save(str(tmp_path / "lsh"))
        loaded = similarity.LshIndex.load(spark, str(tmp_path / "lsh"))
        assert loaded.n_planes == 8 and loaded.seed == 42
        # parquet-backed, filtered probe side (the serving shape: a query
        # batch selected from a table; Spark's DPP heuristic requires a
        # selective predicate on the pruning side to engage)
        queries.write.mode("overwrite").parquet(str(tmp_path / "q"))
        pq_queries = spark.read.parquet(str(tmp_path / "q")).filter(
            F.col("vec_id") < 100000
        )
        loaded_topk = loaded.topk(pq_queries, k=1)
        # the bucket_p partition column must drive dynamic partition
        # pruning: a probe of the saved index reads only probed dirs
        lplan = loaded_topk._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in lplan, lplan
        reloaded = {
            r.query_id: r.neighbor_id for r in loaded_topk.collect()
        }
        assert reloaded == expect

        # multi-probe visits the query bucket plus 1-bit neighbors: recall
        # on the planted twins can only go up
        single_hits = sum(1 for q, n in got.items() if n == q + 100000)
        multi = {
            r.query_id: r.neighbor_id
            for r in index.topk(queries, k=1, multi_probe=1).collect()
        }
        multi_hits = sum(1 for q, n in multi.items() if n == q + 100000)
        assert multi_hits >= single_hits
        assert multi_hits >= len(base) * 0.7
    finally:
        index.unpersist()


def test_stateful_sessionize_late_chain_bridges_into_open_session(spark, tmp_path):
    """A later in-batch late event can regress the open session's start to
    within gap of an earlier late-event chain — batch gap-split keeps them
    ONE session, so nothing may be emitted and the merged session must
    carry every event (review finding r8: the chain was emitted as a
    spurious closed session)."""
    import datetime as _dt

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    from mortar_parquet_support_spark.streaming.rollup import (
        stateful_sessionize_stream,
    )

    schema = StructType(
        [StructField("dev", StringType()), StructField("event_time", TimestampType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = lambda h, m: _dt.datetime(2024, 5, 1, h, m)  # noqa: E731

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(str(src) + "/*")
        )
        sess = stateful_sessionize_stream(
            stream, key="dev", ts="event_time", gap="30 minutes", watermark="6 hours"
        )
        emitted = []
        q = (
            sess.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _id: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    # batch 1: open session at 10:00
    assert run_batch([("devA", t(10, 0))], "b1") == []
    # batch 2: 9:00 and 9:25 chain as too-early (< 9:30 = start - gap);
    # 9:45 folds and regresses start to 9:45 — now 9:25 is within gap, so
    # ALL FOUR events are one batch-semantics session: nothing closes.
    out = run_batch(
        [("devA", t(9, 0)), ("devA", t(9, 25)), ("devA", t(9, 45))], "b2"
    )
    assert out == [], [tuple(r) for r in out]
    # batch 3: 17:00 advances the watermark (6h delay) to 11:00, past the
    # merged session's seal point 10:30 — it emits spanning 9:00..10:00
    # with all 4 events; 17:00 itself stays pending
    out = run_batch([("devA", t(17, 0))], "b3")
    got = [(r.key, r.session_start, r.session_end, r.n_events) for r in out]
    assert got == [("devA", t(9, 0), t(10, 0), 4)], got


def test_asof_join_null_right_value_stays_null(spark):
    """pd.merge_asof parity (review finding r8): the matched right row's
    value is returned AS IS — a null value from the nearest row must not
    be replaced by an older row's non-null value, and multi-column picks
    must all come from the SAME matched row."""
    import datetime as _dt

    t = lambda s: _dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame([("k", t(3))], ["k", "time"])
    right = spark.createDataFrame(
        [("k", t(1), 5.0, "a"), ("k", t(2), None, None)],
        "k string, time timestamp, v double, tag string",
    )
    out = timeseries.asof_join(
        left, right, on=["k"], ts="time", direction="backward"
    ).collect()
    assert len(out) == 1
    r = out[0]
    # nearest row is t=2 whose v/tag are null: both stay null, matched_ts
    # still points at the matched row
    assert r.matched_ts == t(2), r
    assert r.v is None and r.tag is None, r


def test_resample_preserves_ntz_type_and_instants(spark):
    """Review finding r8: resample's bucket must not round-trip through
    session-tz strings (DST collapse) nor retype TIMESTAMP_NTZ to LTZ."""
    import datetime as _dt

    rows = [
        ("u", _dt.datetime(2024, 11, 3, 5, 30), 1.0),
        ("u", _dt.datetime(2024, 11, 3, 6, 30), 2.0),
    ]
    # LTZ input: distinct instants stay distinct buckets
    ltz = spark.createDataFrame(rows, "uuid string, time timestamp, value double")
    out = timeseries.resample(ltz, step="1 hour", how="last", fill=None)
    assert dict(out.dtypes)["time"] == "timestamp", out.dtypes
    got = sorted(r.value for r in out.collect())
    assert got == [1.0, 2.0]
    # NTZ input: output time column stays NTZ
    ntz = ltz.select("uuid", F.col("time").cast("timestamp_ntz").alias("time"), "value")
    out2 = timeseries.resample(ntz, step="1 hour", how="last", fill=None)
    tcol = [c for c in out2.columns if c == "time"][0]
    assert dict(out2.dtypes)[tcol] == "timestamp_ntz", out2.dtypes
    assert sorted(r.value for r in out2.collect()) == [1.0, 2.0]


def test_pack_sequences_rejects_shard_bin_collision(spark):
    df = spark.createDataFrame([(1, 10, 0)], ["id", "cost", "bin"])
    with pytest.raises(ValueError, match="bin"):
        from mortar_parquet_support_spark.operators.curation import pack_sequences

        pack_sequences(df, id_col="id", cost_col="cost", budget=100)


def test_pack_sequences_rejects_shard_col_bin(spark):
    """Review finding r8: shard_col='bin' reads the caller's column as the
    shard key and then OVERWRITES it with packing metadata — the guard must
    not exempt it just because it is the shard_col."""
    df = spark.createDataFrame([(1, 10, 0)], ["id", "cost", "bin"])
    with pytest.raises(ValueError, match="bin"):
        from mortar_parquet_support_spark.operators.curation import pack_sequences

        pack_sequences(df, id_col="id", cost_col="cost", budget=100, shard_col="bin")


def test_resample_day_grid_fixed_duration_across_dst(spark):
    """Review finding r8: LTZ buckets floor to epoch multiples, so the
    dense grid must ALSO step in fixed epoch seconds. A calendar-interval
    sequence in a DST session tz adds a 25h 'day' across fall-back and
    every grid point after the shift misses its bucket in the left join."""
    import datetime as _dt

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t0 = int(
            _dt.datetime(2024, 11, 1, tzinfo=_dt.timezone.utc).timestamp()
        )  # UTC midnight; range spans the 2024-11-03 US fall-back
        df = spark.createDataFrame(
            [("u", t0, 1.0), ("u", t0 + 3 * 86400, 2.0)], ["uuid", "t", "value"]
        ).select("uuid", F.timestamp_seconds("t").alias("time"), "value")
        out = timeseries.resample(df, step="1 day", how="last", fill=None).collect()
        assert len(out) == 4, out  # 4 grid days, endpoints included
        assert sorted(r.value for r in out if r.value is not None) == [1.0, 2.0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_compact_collections_empty_list_is_noop(spark, tmp_path):
    """Review finding r8: an explicitly empty collections selection must
    not silently become a full-lake rewrite."""
    import os

    from mortar_parquet_support_spark.sources.ingest import write_lake
    from mortar_parquet_support_spark.sources.maintenance import compact_collections

    root = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("c1", "u1", 1.0, "l", "uri")], ["collection", "uuid", "value", "label", "uri"]
    ).withColumn("time", F.timestamp_micros(F.lit(1_000_000)))
    write_lake(df, root)

    def mtimes():
        return {
            p: os.path.getmtime(os.path.join(dp, p))
            for dp, _, fs in os.walk(root)
            for p in fs
        }

    before = mtimes()
    compact_collections(spark, root, collections=[])  # no-op by contract
    assert mtimes() == before


def test_text_metrics_unicode_not_ascii(spark):
    """Review finding r8: non-Latin letters are LETTERS, not punctuation,
    and non-Latin documents must not share one normalized fingerprint."""
    zh1, zh2 = "完全不同的中文文档内容", "另一份毫无关联的文字"
    df = spark.createDataFrame([(1, zh1), (2, zh2), (3, "hi there!")], ["id", "t"])
    out = df.select(
        "id",
        text.punct_ratio(F.col("t")).alias("pr"),
        text.fingerprint(F.col("t")).alias("fp"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].pr == 0.0 and by_id[2].pr == 0.0  # was 1.0 (ASCII \w)
    assert by_id[1].fp != by_id[2].fp  # was both md5('')
    assert by_id[3].pr > 0.0  # '!' still counts


def test_exact_dedup_null_columns_do_not_collide(spark):
    """Review finding r8: concat_ws skips nulls, so (NULL,'x') and
    ('x',NULL) shared a digest; the sentinel coalesce keeps them apart."""
    df = spark.createDataFrame(
        [(1, None, "x"), (2, "x", None), (3, "x", "")],
        "id long, c1 string, c2 string",
    )
    out = dedup.exact_dedup(df, ["c1", "c2"], id_col="id").collect()
    assert len(out) == 3, out  # three distinct contents, no false dup


def test_simhash_dedup_ignores_null_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text here"), (4, None)],
        "id long, t string",
    )
    pairs = dedup.simhash_dedup(df, id_col="id", text_col="t").collect()
    assert pairs == [], pairs  # null docs never become candidates


def test_connected_components_raises_on_nonconvergence(spark):
    chain = [(i, i + 1) for i in range(6)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(pairs, max_iterations=1)


def test_multimodal_extension_from_basename(spark, tmp_path):
    import os

    d = tmp_path / "v1.2"
    d.mkdir()
    (d / "img.png").write_bytes(b"\x89PNG\r\n\x1a\nrest")
    (d / "IMG001").write_bytes(b"rawbytes")
    out = multimodal.ingest_binary_dir(spark, str(d)).select(
        "media_id", "meta.format", "meta.modality"
    ).collect()
    by_name = {os.path.basename(r.media_id): r for r in out}
    assert by_name["img.png"].format == "png"
    assert by_name["img.png"].modality == "image"
    # dotted DIRECTORY must not leak into the format of a dot-less file
    assert by_name["IMG001"].format == ""
    assert by_name["IMG001"].modality == "unknown"


def test_analyze_rerun_no_duplicate_columns(spark):
    """Review finding r8: analyze(analyze(df)) used to emit every metric
    column TWICE (withColumns replaced them, then the original projection
    re-selected them), breaking any downstream reference."""
    df = spark.createDataFrame([(1, "the cat sat")], ["doc_id", "text"])
    twice = text.analyze(text.analyze(df))
    assert len(twice.columns) == len(set(twice.columns)), twice.columns
    # still selectable and consistent
    row = twice.select("doc_id", "n_tokens", "quality").collect()[0]
    assert row.n_tokens == 3


def test_upper_ratio_unicode_letters(spark):
    """Review finding r8: ASCII [A-Za-z] classes scored all-caps Cyrillic
    0.0 — caps-spam in any non-Latin script sailed through."""
    df = spark.createDataFrame(
        [(1, "ПРИВЕТ МИР"), (2, "привет мир"), (3, "HELLO there")], ["i", "t"]
    )
    got = {
        r.i: r.ur
        for r in df.select("i", F.round(text.upper_ratio(F.col("t")), 3).alias("ur")).collect()
    }
    assert got[1] == 1.0 and got[2] == 0.0
    assert got[3] == 0.5  # HELLO + 'there' -> 5 upper of 10 letters


def test_hash_split_rejects_negative_weight(spark, documents=None):
    from mortar_parquet_support_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(1,)], ["id"])
    with pytest.raises(ValueError, match="negative split weights"):
        hash_split(df, "id", {"train": 0.8, "val": 0.1, "test": -0.1})


def test_sampling_null_ids_not_silently_dropped(spark):
    """Review finding r8: NULL ids hashed to a NULL bucket, so the filter
    predicate was NULL and the rows vanished from every sample — even at
    fraction 1.0. They now share one deterministic sentinel bucket."""
    from mortar_parquet_support_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    df = spark.createDataFrame(
        [(None,), ("a",), ("b",)], "id string"
    )
    assert deterministic_sample(df, "id", 1.0).count() == 3
    labels = hash_split(df, "id", {"train": 1.0})
    assert [r.split for r in labels.collect()] == ["train"] * 3


def test_weighted_sample_membership_and_determinism(spark):
    from mortar_parquet_support_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, float(w)) for i, w in zip(range(200), [0, 1, 2, 5, 10] * 40)],
        "id long, w double",
    )
    # rate * w >= 1 keeps the row unconditionally (u < 1 always)
    assert weighted_sample(df, "id", "w", rate=1.0).count() == 160  # w > 0
    assert weighted_sample(df, "id", "w", rate=0.0).count() == 0
    kept = {r.id for r in weighted_sample(df, "id", "w", rate=0.05).collect()}
    # heavier rows are kept proportionally more often
    by_w = {}
    for r in df.collect():
        by_w.setdefault(r.w, []).append(r.id in kept)
    frac = {w: sum(v) / len(v) for w, v in by_w.items()}
    assert frac[0.0] == 0.0
    assert frac[10.0] > frac[1.0]
    # stable under repartitioning
    kept2 = {
        r.id
        for r in weighted_sample(
            df.repartition(7), "id", "w", rate=0.05
        ).collect()
    }
    assert kept == kept2
    # NULL and NaN weight rows never pass (review finding: Spark's
    # NaN-greatest ordering made u < NaN TRUE, admitting corrupt rows
    # with probability 1 at any rate)
    dfn = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, float("nan"))], "id long, w double"
    )
    assert [r.id for r in weighted_sample(dfn, "id", "w", rate=1.0).collect()] == [2]
    assert weighted_sample(dfn, "id", "w", rate=0.0).count() == 0
    with pytest.raises(ValueError, match="rate"):
        weighted_sample(df, "id", "w", rate=-0.1)


def test_weighted_sample_bit_identical_to_duckdb(spark):
    """The membership predicate is claimed ENGINE-EXACT (52-bit md5
    uniform, one double multiply) — verify the kept id set matches DuckDB
    evaluating the documented mirror SQL, row for row, at a rate that
    puts many rows near the threshold."""
    import duckdb

    from mortar_parquet_support_spark.operators.sampling import weighted_sample

    rows = [(i, float((i * 7) % 13) / 13.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w double")
    rate = 0.73
    kept = sorted(
        r.id for r in weighted_sample(df, "id", "w", rate=rate).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = [
        r[0]
        for r in con.execute(
            f"""
            SELECT id FROM t
            WHERE ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 13))::BIGINT
                  / 4503599627370496.0 < w * {rate!r}
            ORDER BY id
            """
        ).fetchall()
    ]
    assert kept == oracle and 0 < len(kept) < 500


def test_chunk_text_rejects_negative_overlap(spark):
    from mortar_parquet_support_spark.operators.curation import chunk_text

    df = spark.createDataFrame([(1, "x" * 100)], ["id", "text"])
    with pytest.raises(ValueError, match="overlap"):
        chunk_text(df, id_col="id", text_col="text", chunk_chars=50, overlap=-10)


def test_pack_sequences_null_cost_raises(spark):
    """Review finding r8: a NULL cost propagated bin=NULL and silently
    segregated the row from every bin-keyed consumer."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    from mortar_parquet_support_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(1, 10), (2, None)], "doc_id long, n_chars long"
    )
    out = pack_sequences(df, id_col="doc_id", cost_col="n_chars", budget=100)
    with pytest.raises((Py4JJavaError, SparkRuntimeException, PySparkRuntimeError)):
        out.collect()


def test_mask_pii_covers_every_pattern(spark, monkeypatch):
    """Review finding r8: mask_pii iterated a hardcoded 3-kind tuple — a
    pattern added to PII_PATTERNS was counted by pii_counts but silently
    never masked."""
    from mortar_parquet_support_spark.operators import curation

    monkeypatch.setitem(curation.PII_PATTERNS, "ssn", r"\d{3}-\d{2}-\d{4}")
    df = spark.createDataFrame([("ssn 123-45-6789 x",)], ["t"])
    out = df.select(curation.mask_pii(F.col("t")).alias("m")).collect()[0].m
    assert out == "ssn <SSN> x"


def test_decontaminate_blank_docs_not_contaminated(spark):
    """Review finding r8: a blank row in the eval set shingles to [''] and
    used to mark every blank corpus document as contaminated despite
    sharing zero actual n-grams."""
    from mortar_parquet_support_spark.operators.curation import decontaminate

    corpus = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real shared ngram words here")],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(10, ""), (11, "real shared ngram bench")], ["doc_id", "text"]
    )
    kept = decontaminate(corpus, eval_df, id_col="doc_id", text_col="text")
    # doc 3 shares the 3-gram 'real shared ngram' -> dropped; blanks kept
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_strip_boilerplate_separator_containing_quote_end(spark):
    r"""Review finding r8: a separator containing the two-char sequence \E
    terminated the \Q..\E quoting early (mis-split or pattern error);
    embedded \E is now escaped the way java Pattern.quote does."""
    from mortar_parquet_support_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    sep = r"\E|"
    rows = [(i, sep.join([f"unique {i}", "COMMON FOOTER"])) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = strip_boilerplate_lines(
        df, id_col="doc_id", text_col="text", min_docs=3, sep=sep
    ).collect()
    got = {r.doc_id: r.text for r in out}
    assert got == {0: "unique 0", 1: "unique 1", 2: "unique 2"}


def test_hll_reaggregate_mixed_lg_k(spark):
    """Review finding r8: re-aggregating sketches built at different lg_k
    threw HLL_UNION_DIFFERENT_LG_K with no opt-out; the passthrough
    tolerates an intentional precision change (strict by default)."""
    import datetime as _dt

    from mortar_parquet_support_spark.operators.sketches import (
        hll_rollup,
        hll_reaggregate,
    )

    base = _dt.datetime(2024, 1, 1)
    rows = [(base, "a", i) for i in range(50)]
    df = spark.createDataFrame(rows, "ts timestamp, k string, user_id long")
    s12 = hll_rollup(df, ts="ts", keys=["k"], distinct_cols=["user_id"], bucket="1 hour", lg_k=12)
    s14 = hll_rollup(df, ts="ts", keys=["k"], distinct_cols=["user_id"], bucket="1 hour", lg_k=14)
    both = s12.unionByName(s14)
    with pytest.raises(Exception):
        hll_reaggregate(both, group_cols=["k"], sketch_cols=["user_id"]).collect()
    out = hll_reaggregate(
        both, group_cols=["k"], sketch_cols=["user_id"], allow_different_lg_k=True
    ).collect()
    assert len(out) == 1 and abs(out[0]["user_id_distinct"] - 50) <= 3


def test_salted_join_tolerates_map_column(spark):
    """Review finding r8: the salt hashed EVERY big-side column; a MapType
    column (events.props) crashed analysis on a frame a plain join
    handles. Maps are excluded from the salt hash."""
    from mortar_parquet_support_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, {"a": "b"}, 10.0), (1, {"c": "d"}, 20.0), (2, {}, 30.0)],
        "user_id long, props map<string,string>, v double",
    )
    small = spark.createDataFrame([(1, "x"), (2, "y")], ["user_id", "tag"])
    out = salted_join(big, small, on="user_id", salt_buckets=4)
    assert out.count() == 3
    assert {r.tag for r in out.collect()} == {"x", "y"}


def test_word_shingles_null_text_incomparable(spark):
    """Review finding r8: NULL text shingled to [''] — identical to a
    genuinely empty document, so null docs compared at Jaccard 1.0 with
    every empty doc. NULL in -> NULL shingles now (char_ngrams too)."""
    from mortar_parquet_support_spark.functions import char_ngrams, word_shingles

    df = spark.createDataFrame([(None,), ("",), ("a b",)], "t string")
    rows = df.select(
        word_shingles(F.col("t")).alias("ws"), char_ngrams(F.col("t")).alias("cg")
    ).collect()
    assert rows[0].ws is None and rows[0].cg is None
    assert rows[1].ws == [""] and rows[1].cg == [""]
    assert rows[2].ws == ["a b"]


def test_zorder_key_nulls_bucket_low(spark):
    """Review finding r8: width_bucket(NULL) fed least/greatest (which SKIP
    nulls), silently sending null rows to the TOP bucket — max-range
    min/max stats for every file containing them. Nulls now bucket to 0."""
    from mortar_parquet_support_spark.functions import zorder_key

    df = spark.createDataFrame(
        [(0.0,), (50.0,), (100.0,), (None,)], "x double"
    )
    keys = df.select(zorder_key(df, ["x"], bits=4).alias("z")).collect()
    z = [r.z for r in keys]
    assert z[3] == z[0] == 0  # null clusters with the minimum, not the max
    assert z[2] == max(z)


def test_frame_sample_ceil_and_decode_fn_validation(spark):
    """Review finding r8: frame count was floor (docstring says ceil — a
    4097-byte clip got 1 frame instead of 2), and a typo'd decode_fn
    silently produced pseudo-features instead of erroring."""
    df = spark.createDataFrame([("m1", bytearray(b"x" * 4097))], "media_id string, content binary")
    out = multimodal.frame_sample(df, every_s=1.0)
    assert out.count() == 2
    with pytest.raises(ValueError, match="decode_fn"):
        multimodal.frame_sample(df, decode_fn="rel")


def test_cosine_topk_null_id_rows_dropped_both_paths(spark):
    """Review finding r8: a NULL-id corpus row crashed the arrow path's
    tie-break lexsort (object-array compare with None) while the exact
    path silently dropped or mis-ranked it depending on include_self.
    Contract now: NULL-id rows never rank, either path."""
    from mortar_parquet_support_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (None, [1.0, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame([(9, [1.0, 0.0])], "vec_id long, embedding array<double>")
    exact = {(r.neighbor_id, r.rank) for r in cosine_topk(corpus, qs, k=3).collect()}
    arrow = {(r.neighbor_id, r.rank) for r in cosine_topk_arrow(corpus, qs, k=3).collect()}
    assert exact == arrow == {(1, 1), (3, 2)}
    with_self = {
        (r.neighbor_id, r.rank)
        for r in cosine_topk(corpus, qs, k=3, include_self=True).collect()
    }
    assert None not in {n for n, _ in with_self}


def test_qhist_nonfinite_values_dropped_not_fatal(spark):
    """NaN crashes the ANSI signum->int cast and Infinity overflows the
    floor->long cast — a single bad row must not abort the rollup; both
    drop like NULLs (review finding r8)."""
    from mortar_parquet_support_spark.operators.sketches import qhist_rollup

    df = spark.createDataFrame(
        [("g", 1.0), ("g", float("nan")), ("g", float("inf")),
         ("g", float("-inf")), ("g", None), ("g", 100.0)],
        "g string, v double",
    )
    rows = {(r.sign, r.mag_bin): r.cnt for r in qhist_rollup(df, value="v", keys=["g"]).collect()}
    assert sum(rows.values()) == 2  # only the two finite values
    with pytest.raises(ValueError):
        qhist_rollup(df, value="v", keys=["g"], bucket="1 hour")  # bucket w/o ts


def test_asof_join_chains_without_column_collision(spark):
    """Review finding r8: chaining asof_join over its own output used to
    produce TWO matched_ts columns (withColumnRenamed doesn't detect
    collisions); the second join's column is now right_matched_ts."""
    left = spark.createDataFrame([(1, 10, "L")], ["k", "time", "lv"])
    r1 = spark.createDataFrame([(1, 9, 1.0)], ["k", "time", "a"])
    r2 = spark.createDataFrame([(1, 8, 2.0)], ["k", "time", "b"])
    out1 = timeseries.asof_join(left, r1, on=["k"], ts="time")
    out2 = timeseries.asof_join(out1, r2, on=["k"], ts="time")
    assert out2.columns.count("matched_ts") == 1
    row = out2.collect()[0]
    assert row.matched_ts == 9 and row.right_matched_ts == 8
    assert row.a == 1.0 and row.b == 2.0


def test_asof_join_map_typed_right_column(spark):
    """Review finding r8: a map-typed right column crashed the
    determinism tie-break (maps are not orderable); it must be excluded
    from the sort struct but still carried through the match."""
    left = spark.createDataFrame([(1, 10)], ["k", "time"])
    right = spark.createDataFrame(
        [(1, 9, {"x": "y"}, 5.0)],
        "k long, time long, tags map<string,string>, v double",
    )
    row = timeseries.asof_join(left, right, on=["k"], ts="time").collect()[0]
    assert row.tags == {"x": "y"} and row.v == 5.0 and row.matched_ts == 9


def test_ewma_rejects_colliding_out_col(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], ["uuid", "time", "value"])
    first = timeseries.ewma(df, out_col="sm")
    with pytest.raises(ValueError, match="out_col"):
        timeseries.ewma(first, value="sm", out_col="sm")


def test_time_bucket_rollup_empty_aggs_errors(spark):
    """Explicit aggs={} must surface the mistake, not silently fall back
    to the defaults (None-sentinel rule)."""
    df = spark.createDataFrame([(1, "2024-01-01 00:00:00", 1.0)],
                               ["uuid", "time", "value"])
    df = df.withColumn("time", F.to_timestamp("time"))
    with pytest.raises(Exception):
        timeseries.time_bucket_rollup(df, aggs={}).collect()
    # default path still works
    assert timeseries.time_bucket_rollup(df).count() == 1


def test_word_shingles_ignore_leading_whitespace_kind(spark):
    """Review finding r8: F.trim strips only ASCII spaces, so a leading
    tab/newline produced a phantom '' token that shifted every shingle —
    two docs identical but for a leading '\\t' scored below Jaccard 1.0."""
    from mortar_parquet_support_spark.functions import word_shingles

    df = spark.createDataFrame(
        [(1, "foo bar baz qux"), (2, "\tfoo bar baz qux"), (3, "\nfoo  bar\tbaz qux")],
        ["id", "text"],
    )
    rows = df.select("id", word_shingles(F.col("text"), 3).alias("sh")).collect()
    sets = {r.id: frozenset(r.sh) for r in rows}
    assert sets[1] == sets[2] == sets[3]
    assert "foo bar baz" in sets[1]


def test_extract_features_image_mode_rejects_nonimage(spark):
    """Review finding r8: decode_fn='image' silently emitted md5 pseudo-
    features for audio/video rows, mixed into the same column as real
    pixel features. It now raises; fake mode still covers plumbing."""
    import pytest as _pytest

    rows = [("a1", bytearray(b"RIFFxxxx"), 8)]
    media = spark.createDataFrame(rows, ["media_id", "content", "n"]).select(
        "media_id",
        F.col("content").cast("binary").alias("content"),
        F.struct(
            F.lit("audio").alias("modality"),
            F.lit("wav").alias("format"),
            F.col("n").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )
    with _pytest.raises(Exception, match="modality"):
        multimodal.extract_features(media, decode_fn="image").collect()
    out = multimodal.extract_features(media, decode_fn="fake").collect()
    assert len(out) == 1 and len(out[0].features) == 16


def test_parse_bytes_fractional_and_pebibyte():
    from mortar_parquet_support_spark.plans.hints import _parse_bytes

    assert _parse_bytes("1.5g") == int(1.5 * (1 << 30))
    assert _parse_bytes("1p") == 1 << 50
    assert _parse_bytes("10485760") == 10485760
    assert _parse_bytes("10MB") == 10 << 20
    assert _parse_bytes("-1") == -1


def test_unigram_logprob_self_scoring(spark):
    from mortar_parquet_support_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "the the the"), (2, "the rare"), (3, "   "), (4, None)],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # corpus: the x4, rare x1 -> total 5
    import math

    assert set(rows) == {1, 2}  # empty/None docs produce no token rows
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["avg_logprob"] == round(math.log(4 / 5), 6)
    assert rows[2]["n_tokens"] == 2
    assert rows[2]["avg_logprob"] == round(
        (math.log(4 / 5) + math.log(1 / 5)) / 2, 6
    )


def test_unigram_logprob_external_model_oov(spark):
    from mortar_parquet_support_spark.operators.text import (
        unigram_counts,
        unigram_logprob,
    )

    train = spark.createDataFrame([(1, "a a b")], ["doc_id", "text"])
    model = unigram_counts(train)
    score = spark.createDataFrame([(9, "a zzz")], ["doc_id", "text"])
    import math

    (row,) = unigram_logprob(
        score, model=model, oov_freq=0.5
    ).collect()
    # total stays 3 (train mass); oov token backs off to 0.5 pseudo-counts
    assert row["n_tokens"] == 2
    assert row["avg_logprob"] == round(
        (math.log(2 / 3) + math.log(0.5 / 3)) / 2, 6
    )


def test_build_mixture_rates_and_determinism(spark):
    from mortar_parquet_support_spark.operators.sampling import build_mixture

    rows = [(i, "big" if i < 200 else "small") for i in range(250)]
    df = spark.createDataFrame(rows, ["id", "dom"])
    # big: 200 rows at weight 1, small: 50 rows at weight 3 -> of a
    # 200-row target, big gets 50 (rate .25), small 150 (rate 3.0)
    out = build_mixture(
        df, "id", "dom", {"big": 1.0, "small": 3.0}, target_rows=200
    )
    pdf = out.toPandas()
    small = pdf[pdf.dom == "small"]
    big = pdf[pdf.dom == "big"]
    # integer rate -> exact: every small row appears exactly 3 times
    assert len(small) == 150
    assert set(small.epoch) == {0, 1, 2}
    assert small.groupby("id").size().eq(3).all()
    # fractional rate -> expectation 50, each kept row exactly once
    assert big.epoch.eq(0).all()
    assert 30 <= len(big) <= 70
    # determinism under repartitioning
    again = build_mixture(
        df.repartition(7), "id", "dom", {"big": 1.0, "small": 3.0},
        target_rows=200,
    ).toPandas()
    key = lambda p: sorted(map(tuple, p[["id", "epoch"]].values.tolist()))  # noqa: E731
    assert key(again) == key(pdf)


def test_build_mixture_validation(spark):
    from mortar_parquet_support_spark.operators.sampling import build_mixture

    df = spark.createDataFrame([(1, "a", 0)], ["id", "dom", "epoch"])
    with pytest.raises(ValueError, match="epoch"):
        build_mixture(df, "id", "dom", {"a": 1.0}, target_rows=10)
    df2 = spark.createDataFrame([(1, "a")], ["id", "dom"])
    with pytest.raises(ValueError, match="negative"):
        build_mixture(df2, "id", "dom", {"a": -1.0}, target_rows=10)
    with pytest.raises(ValueError, match="positive"):
        build_mixture(df2, "id", "dom", {"a": 0.0}, target_rows=10)
    # domains outside the weight map are dropped entirely
    df3 = spark.createDataFrame([(1, "a"), (2, "other")], ["id", "dom"])
    out = build_mixture(df3, "id", "dom", {"a": 1.0}, target_rows=1)
    assert [r["dom"] for r in out.collect()] == ["a"]


def test_unigram_logprob_rejects_nonpositive_oov(spark):
    from mortar_parquet_support_spark.operators.text import unigram_logprob

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="oov_freq"):
        unigram_logprob(df, oov_freq=0.0)


def test_qhist_mixed_bpd_raises(spark):
    from mortar_parquet_support_spark.operators.sketches import (
        qhist_quantiles,
        qhist_rollup,
    )

    df = spark.createDataFrame([("g", 5.0), ("g", 50.0)], "g string, v double")
    mixed = qhist_rollup(df, value="v", keys=["g"]).unionByName(
        qhist_rollup(df, value="v", keys=["g"], bins_per_decade=40)
    )
    with pytest.raises(Exception, match="bins_per_decade"):
        qhist_quantiles(mixed, group_cols=["g"]).collect()


def test_qhist_exact_integer_rank_not_skipped(spark):
    """q*n landing exactly on an integer rank must pick that rank's bin:
    0.07 as a double slightly OVERSHOOTS 7.0 when multiplied by 100, and
    an un-nudged >= compare would skip the 7th bin for the 8th."""
    from mortar_parquet_support_spark.operators.sketches import (
        qhist_quantiles,
        qhist_rollup,
    )

    rows = [("g", float(10**i)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, v double")
    state = qhist_rollup(df, value="v", keys=["g"])
    (out,) = qhist_quantiles(state, group_cols=["g"], qs=[0.07]).collect()
    # rank 7 = 10^6, bin midpoint 10^((120+0.5)/20)
    assert abs(out.p7 / 10 ** 6.025 - 1) < 1e-9


def _cms_toks(spark):
    rows = [("g1", t) for t in ["a"] * 5 + ["b"] * 3 + ["c"]] + [
        ("g2", t) for t in ["a"] * 2 + ["d"]
    ]
    return spark.createDataFrame(rows, "g string, tok string")


def test_cms_estimate_upper_bounds_and_misses(spark):
    from mortar_parquet_support_spark.operators.sketches import (
        cms_estimate,
        cms_rollup,
    )

    toks = _cms_toks(spark)
    state = cms_rollup(toks, item="tok", keys=["g"])
    est = {
        (r.g, r.item): r.est
        for r in cms_estimate(
            state, ["a", "b", "c", "d", "nope"], group_cols=["g"]
        ).collect()
    }
    true = {
        (r.g, r.tok): r["count"]
        for r in toks.groupBy("g", "tok").count().collect()
    }
    # one-sided error: est >= true, and at width 1024 with 9 distinct
    # cells there are no collisions -> exact
    for k, v in true.items():
        assert est[k] == v, k
    assert est[("g1", "nope")] == 0 and est[("g2", "nope")] == 0
    assert est[("g1", "d")] == 0 and est[("g2", "b")] == 0


def test_cms_reaggregate_lossless_and_null_dropped(spark):
    from mortar_parquet_support_spark.operators.sketches import (
        cms_reaggregate,
        cms_rollup,
    )

    toks = _cms_toks(spark).unionByName(
        spark.createDataFrame([("g1", None)], "g string, tok string")
    )
    direct = cms_rollup(toks, item="tok", keys=["g"])
    merged = cms_reaggregate(
        cms_rollup(toks.filter(F.col("tok") < "c"), item="tok", keys=["g"]).unionByName(
            cms_rollup(toks.filter(~(F.col("tok") < "c")), item="tok", keys=["g"])
        ),
        group_cols=["g"],
    )
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # NULL items dropped: totals match the non-null token count
    total = sum(r.cnt for r in direct.filter(F.col("d") == 0).collect())
    assert total == 12


def test_cms_mixed_params_raise(spark):
    from mortar_parquet_support_spark.operators.sketches import (
        cms_estimate,
        cms_rollup,
    )

    toks = _cms_toks(spark)
    mixed = cms_rollup(toks, item="tok", keys=["g"]).unionByName(
        cms_rollup(toks, item="tok", keys=["g"], width=64)
    )
    with pytest.raises(Exception, match="depth, width, seed"):
        cms_estimate(mixed, ["a"], group_cols=["g"]).collect()
    with pytest.raises(ValueError, match="non-empty"):
        cms_estimate(cms_rollup(toks, item="tok", keys=["g"]), [], group_cols=["g"])
    with pytest.raises(ValueError, match="depth/width"):
        cms_rollup(toks, item="tok", keys=["g"], depth=0)


def test_bigram_logprob_hand_computed(spark):
    from mortar_parquet_support_spark.operators.text import bigram_logprob
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b"), (3, "c a"), (4, None)],
        ["doc_id", "text"],
    )
    # unigrams: a:3 b:3 c:1, total 7; bigrams: (a,b):2 (b,a):1 (c,a):1
    # left totals: a:2 b:1 c:1
    rows = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_tokens == 4
    # ln(3/7) + ln(2/2) + ln(1/1) + ln(2/2), over 4 tokens
    assert rows[1].avg_logprob == round(math.log(3 / 7) / 4, 6)
    assert rows[2].n_tokens == 1
    assert rows[2].avg_logprob == round(math.log(3 / 7), 6)
    assert rows[3].avg_logprob == round(math.log(1 / 7) / 2, 6)


def test_bigram_logprob_backoff_external_model(spark):
    from mortar_parquet_support_spark.operators.text import bigram_logprob
    import math

    train = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    # "b b": first ln(2/4); bigram (b,b) unseen -> backoff
    # ln(0.4 * 2/4); "b z": (b,z) unseen AND z OOV -> ln(0.4 * 0.5/4)
    score = spark.createDataFrame(
        [(9, "b b"), (10, "b z")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in bigram_logprob(score, train_df=train, alpha=0.4).collect()
    }
    assert rows[9].avg_logprob == round(
        (math.log(2 / 4) + math.log(0.4 * 2 / 4)) / 2, 6
    )
    assert rows[10].avg_logprob == round(
        (math.log(2 / 4) + math.log(0.4 * 0.5 / 4)) / 2, 6
    )
    with pytest.raises(ValueError, match="alpha"):
        bigram_logprob(score, alpha=0.0)


def test_duplicate_spans_hand_computed(spark):
    from mortar_parquet_support_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "x1 x2 x3 x4 tail1"),
            (2, "x1 x2 x3 x4 tail2"),
            (3, "p q r s t u v w unique1"),
            (4, "p q r s t u v w unique2"),
            (5, "m n o p z1 z2 z3 m n o p q"),
            (6, "too short"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r.doc_id, r.span_start): r
        for r in duplicate_spans(docs, k=4, min_count=2).collect()
    }
    # single shared 4-gram -> one span of exactly one gram
    assert rows[(1, 0)].span_end == 4 and rows[(1, 0)].n_grams == 1
    assert rows[(2, 0)].span_end == 4
    # 8 shared tokens -> 5 overlapping 4-grams merge into one [0, 8) span
    assert rows[(3, 0)].span_end == 8 and rows[(3, 0)].n_grams == 5
    assert rows[(4, 0)].span_end == 8
    # within-doc repetition counts toward the corpus threshold; the two
    # occurrences are gap-separated -> two islands
    assert rows[(5, 0)].span_end == 4
    assert rows[(5, 7)].span_end == 11
    # doc 6 is shorter than k -> no rows at all
    assert not any(d == 6 for d, _ in rows)
    assert len(rows) == 6


def test_duplicate_spans_threshold_and_validation(spark):
    import pytest
    from mortar_parquet_support_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    # the shared 4-gram occurs twice; min_count=3 keeps it unmarked
    assert duplicate_spans(docs, k=4, min_count=3).count() == 0
    with pytest.raises(ValueError, match="min_count"):
        duplicate_spans(docs, k=4, min_count=1)
    with pytest.raises(ValueError, match="k must"):
        duplicate_spans(docs, k=0)


def test_remove_spans_hand_computed(spark):
    from mortar_parquet_support_spark.operators.dedup import (
        duplicate_spans,
        remove_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "x1 x2 x3 x4 tail1"),
            (2, "X1  x2 x3 x4 tail2"),  # casefold + ws-normalize on rebuild
            (3, "no dups here"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    spans = duplicate_spans(docs, k=4, min_count=2)
    rows = {r.doc_id: r for r in remove_spans(docs, spans).collect()}
    assert rows[1].text == "tail1" and rows[1].n_removed == 4
    assert rows[1].n_tokens == 5
    assert rows[2].text == "tail2" and rows[2].n_removed == 4
    # span-free docs survive, normalized, n_removed 0
    assert rows[3].text == "no dups here" and rows[3].n_removed == 0
    # NULL text passes through with zero counts
    assert rows[4].text is None
    assert rows[4].n_tokens == 0 and rows[4].n_removed == 0
    assert len(rows) == 4


def test_remove_spans_overlapping_intervals(spark):
    from mortar_parquet_support_spark.operators.dedup import remove_spans

    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5")], ["doc_id", "text"]
    )
    # hand-built spans: overlapping [1,3) and [2,5) remove tokens 1-4
    spans = spark.createDataFrame(
        [(1, 1, 3), (1, 2, 5)], ["doc_id", "span_start", "span_end"]
    )
    r = remove_spans(docs, spans).collect()[0]
    assert r.text == "t0 t5" and r.n_removed == 4 and r.n_tokens == 6


def test_dedup_lines_hand_computed(spark):
    from mortar_parquet_support_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "keep one\nDUP LINE\nkeep two"),
            (2, "Dup Line\nother"),
            (3, "dup line"),
            (4, "solo\n\nsolo2"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in dedup_lines(docs, min_count=2).collect()}
    # normalized 'dup line' occurs 3x corpus-wide -> removed everywhere
    assert rows[1].text == "keep one\nkeep two" and rows[1].n_removed == 1
    assert rows[1].n_lines == 3
    assert rows[2].text == "other" and rows[2].n_removed == 1
    # a doc whose every line is removed keeps an empty string
    assert rows[3].text == "" and rows[3].n_removed == 1
    # empty lines are structure, never counted or removed
    assert rows[4].text == "solo\n\nsolo2" and rows[4].n_removed == 0


def test_dedup_lines_normalize_off_and_validation(spark):
    import pytest
    from mortar_parquet_support_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "DUP LINE\na"), (2, "dup line\nb")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in dedup_lines(docs, min_count=2, normalize=False).collect()
    }
    # case differs -> no match without normalization
    assert rows[1].n_removed == 0 and rows[2].n_removed == 0
    with pytest.raises(ValueError, match="min_count"):
        dedup_lines(docs, min_count=1)
    with pytest.raises(ValueError, match="delimiter"):
        dedup_lines(docs, delimiter="")


def test_dedup_lines_literal_delimiter_and_null_text(spark):
    from mortar_parquet_support_spark.operators.dedup import dedup_lines

    # '|' is a regex metachar: as a regex it splits between every char;
    # the contract is LITERAL
    docs = spark.createDataFrame(
        [(1, "dup seg|keep a"), (2, "dup seg|keep b"), (3, None)],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r for r in dedup_lines(docs, delimiter="|").collect()
    }
    assert rows[1].text == "keep a" and rows[1].n_lines == 2
    assert rows[2].text == "keep b" and rows[2].n_removed == 1
    # NULL text passes through: text stays NULL, zero counts
    assert rows[3].text is None
    assert rows[3].n_lines == 0 and rows[3].n_removed == 0


def test_dedup_lines_whitespace_never_counted_unnormalized(spark):
    from mortar_parquet_support_spark.operators.dedup import dedup_lines

    # '  ' repeats corpus-wide; even with normalize=False it must be
    # treated as structure, not a removable duplicate
    docs = spark.createDataFrame(
        [(1, "a\n  \nb"), (2, "c\n  \nd")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in dedup_lines(docs, min_count=2, normalize=False).collect()
    }
    assert rows[1].text == "a\n  \nb" and rows[1].n_removed == 0
    assert rows[2].text == "c\n  \nd" and rows[2].n_removed == 0


# ---------------------------------------------------------------- product quantization
def _pq_lossless_fixture(spark):
    """8 distinct vectors == ksub: every subvector becomes a codebook
    entry, so encoding is LOSSLESS and ADC must equal exact cosine."""
    import numpy as np

    rng = np.random.RandomState(7)
    V = rng.randn(8, 16)
    rows = [(i, [float(x) for x in V[i]]) for i in range(8)]
    return (
        spark.createDataFrame(rows, "vec_id: long, embedding: array<double>"),
        V,
    )


def test_pq_lossless_equals_brute_force(spark):
    from mortar_parquet_support_spark.operators.pq import PqIndex
    from mortar_parquet_support_spark.operators.similarity import cosine_topk

    emb, _ = _pq_lossless_fixture(spark)
    idx = PqIndex.build(emb, m=4, ksub=8, iters=2, persist=False)
    q = emb.limit(3)
    adc = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in idx.topk(q, k=5).collect()
    )
    ex = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in cosine_topk(emb, q, k=5).collect()
    )
    assert adc == ex


def test_pq_lossless_decode_reconstructs_unit_vectors(spark):
    import numpy as np

    from mortar_parquet_support_spark.operators.pq import (
        PqIndex,
        pq_decode,
        pq_encode,
    )

    emb, V = _pq_lossless_fixture(spark)
    idx = PqIndex.build(emb, m=4, ksub=8, iters=2, persist=False)
    coded = pq_encode(emb, idx.books)
    Vn = V / np.linalg.norm(V, axis=1)[:, None]
    for r in coded.select(
        "vec_id", pq_decode("codes", idx.books).alias("rec")
    ).collect():
        assert np.allclose(np.array(r.rec), Vn[r.vec_id])


def test_pq_recall_improves_with_budget_and_rerank(embeddings):
    """Recall@10 vs brute force on the fixture: coarse codes -> some
    recall; more subspaces/centroids -> more; exact re-rank of an
    overfetched pool -> more still. Bounds sit under measured values
    (0.24 / 0.48 / 0.66 at seed 42) with slack for BLAS variation."""
    from pyspark.sql import functions as F

    from mortar_parquet_support_spark.operators.pq import PqIndex
    from mortar_parquet_support_spark.operators.similarity import cosine_topk

    q = embeddings.limit(5).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(embeddings, q, k=10).collect()
    }
    coarse = PqIndex.build(embeddings, m=8, ksub=16, iters=2, persist=False)
    fine = PqIndex.build(embeddings, m=16, ksub=32, iters=2, persist=False)
    got_coarse = {
        (r.query_id, r.neighbor_id) for r in coarse.topk(q, k=10).collect()
    }
    got_fine = {
        (r.query_id, r.neighbor_id) for r in fine.topk(q, k=10).collect()
    }
    got_rerank = {
        (r.query_id, r.neighbor_id)
        for r in coarse.topk(
            q, k=10, rerank=50, rerank_corpus=embeddings
        ).collect()
    }
    r_coarse = len(got_coarse & exact) / len(exact)
    r_fine = len(got_fine & exact) / len(exact)
    r_rerank = len(got_rerank & exact) / len(exact)
    assert r_coarse >= 0.15
    assert r_fine >= max(0.35, r_coarse)
    assert r_rerank >= 0.5
    # rerank output is exact cosine for its rows: every overlapping pair
    # must carry the same cosine the exact path computed
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(embeddings, q, k=10).collect()
    }
    for r in coarse.topk(
        q, k=10, rerank=50, rerank_corpus=embeddings
    ).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert abs(r.cosine - exact_cos[key]) < 1e-9


def test_pq_save_load_identical_results(spark, embeddings, tmp_path):
    from mortar_parquet_support_spark.operators.pq import PqIndex

    q = embeddings.limit(3).select("vec_id", "embedding")
    idx = PqIndex.build(embeddings, m=8, ksub=16, iters=1, persist=False)
    before = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in idx.topk(q, k=5).collect()
    )
    path = str(tmp_path / "pq_idx")
    idx.save(path)
    re = PqIndex.load(spark, path)
    assert re.books == idx.books
    after = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in re.topk(q, k=5).collect()
    )
    assert after == before


def test_pq_validation_and_degenerate_inputs(spark):
    import pytest

    from mortar_parquet_support_spark.operators.pq import PqIndex, pq_train

    emb, _ = _pq_lossless_fixture(spark)
    with pytest.raises(ValueError, match="must divide"):
        pq_train(emb, m=5, ksub=4)
    with pytest.raises(ValueError, match="ksub"):
        pq_train(emb, m=4, ksub=300)
    with pytest.raises(ValueError, match="usable vectors"):
        pq_train(emb, m=4, ksub=9)  # only 8 rows
    idx = PqIndex.build(emb, m=4, ksub=8, iters=1, persist=False)
    with pytest.raises(ValueError, match="rerank pool"):
        idx.topk(emb.limit(1), k=10, rerank=5, rerank_corpus=emb)
    with pytest.raises(ValueError, match="rerank_corpus"):
        idx.topk(emb.limit(1), k=2, rerank=5)
    # NULL and zero-norm vectors are filtered at build; degenerate
    # queries emit nothing
    bad = spark.createDataFrame(
        [(100, None), (101, [0.0] * 16)],
        "vec_id: long, embedding: array<double>",
    )
    full = emb.unionByName(bad)
    idx2 = PqIndex.build(full, m=4, ksub=8, iters=1, persist=False)
    assert idx2.coded.count() == 8
    assert idx2.topk(bad, k=3).count() == 0


def test_diff_tables_change_classes_and_nulls(spark):
    from mortar_parquet_support_spark.sources.maintenance import diff_tables

    old = spark.createDataFrame(
        [(1, "same"), (2, "old"), (3, "gone"), (4, None), (5, None)],
        "k long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "new"), (6, "fresh"), (4, None), (5, "born")],
        "k long, text string",
    )
    out = {
        r.k: r.change
        for r in diff_tables(
            old, new, keys=["k"], digest=F.md5("text")
        ).collect()
    }
    # 1: unchanged (absent); 4: NULL==NULL digest -> unchanged (absent)
    assert out == {2: "changed", 3: "removed", 6: "added", 5: "changed"}


def test_counter_rate_resets_gaps_and_first(spark):
    from datetime import datetime

    from mortar_parquet_support_spark.operators.timeseries import counter_rate

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        ("m1", t(0), 100.0),   # first -> NULL rate
        ("m1", t(10), 150.0),  # +50 over 10s -> 5.0
        ("m1", t(20), 20.0),   # RESET: delta := 20 -> 2.0
        ("m1", t(30), 20.0),   # flat counter -> 0.0
        ("m2", t(0), 7.0),     # independent stream, first -> NULL
    ]
    df = spark.createDataFrame(rows, "uuid string, time timestamp, value double")
    out = {
        (r.uuid, r.time.second): r.rate
        for r in counter_rate(df, keys=["uuid"]).collect()
    }
    assert out[("m1", 0)] is None and out[("m2", 0)] is None
    assert out[("m1", 10)] == 5.0
    assert out[("m1", 20)] == 2.0
    assert out[("m1", 30)] == 0.0

    # max_gap: the 10s step survives a 15s ceiling, dies under a 5s one
    wide = {
        (r.uuid, r.time.second): r.rate
        for r in counter_rate(df, keys=["uuid"], max_gap="15 seconds").collect()
    }
    assert wide[("m1", 10)] == 5.0 and wide[("m1", 20)] == 2.0
    gated = {
        (r.uuid, r.time.second): r.rate
        for r in counter_rate(df, keys=["uuid"], max_gap="5 seconds").collect()
    }
    assert gated[("m1", 10)] is None and gated[("m1", 20)] is None

    # a mid-stream NULL reading: the next rate is NULL, never a fake reset
    nulled = spark.createDataFrame(
        [("m3", t(0), 1_000_000.0), ("m3", t(10), None), ("m3", t(20), 1_000_010.0)],
        "uuid string, time timestamp, value double",
    )
    nr = {
        r.time.second: r.rate
        for r in counter_rate(nulled, keys=["uuid"]).collect()
    }
    assert nr[10] is None and nr[20] is None


def test_qc_flags_spike_flatline_gap(spark):
    from datetime import datetime, timedelta

    from mortar_parquet_support_spark.operators.timeseries import qc_flags

    base = datetime(2024, 1, 1)
    rows = []
    # steady signal alternating 10/12, then a spike, then a flatline run,
    # then a reading after a 2-hour hole
    for i in range(10):
        rows.append(("s", base + timedelta(minutes=i), 10.0 + 2 * (i % 2)))
    rows.append(("s", base + timedelta(minutes=10), 500.0))          # spike
    for i in range(11, 16):
        rows.append(("s", base + timedelta(minutes=i), 42.0))        # flat x5
    rows.append(("s", base + timedelta(hours=3), 11.0))              # gap
    df = spark.createDataFrame(rows, "uuid string, time timestamp, value double")
    out = {
        r.time: (r.qc_spike, r.qc_flatline, r.qc_gap)
        for r in qc_flags(
            df, keys=["uuid"], window=8, spike_sigmas=4.0, flatline_n=5,
            max_gap="1 hour",
        ).collect()
    }
    assert out[base + timedelta(minutes=10)][0] is True    # the spike
    assert sum(s for s, _, _ in out.values()) <= 2         # not the steady part
    assert out[base + timedelta(minutes=15)][1] is True    # 5th equal reading
    assert out[base + timedelta(minutes=14)][1] is False   # only 4 so far
    assert out[base + timedelta(hours=3)][2] is True       # the hole
    assert sum(g for _, _, g in out.values()) == 1
    # first rows: no baseline -> no spike flag, no gap flag
    assert out[base][0] is False and out[base][2] is False


def test_lttb_downsample_contract(spark):
    import math
    from datetime import datetime, timedelta

    from mortar_parquet_support_spark.operators.timeseries import (
        lttb_downsample,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        v = math.sin(i / 15.0) * 10
        if i == 123:
            v = 300.0  # a spike LTTB must keep
        rows.append(("s1", base + timedelta(seconds=i), v))
    rows += [("s2", base + timedelta(seconds=i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "uuid string, time timestamp, value double")

    out = lttb_downsample(df, keys=["uuid"], n_out=40)
    by = {
        k: sorted(
            ((r.time, r.value) for r in g), key=lambda p: p[0]
        )
        for k, g in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: r.uuid), key=lambda r: r.uuid
        )
    }
    s1 = by["s1"]
    assert len(s1) == 40
    # endpoints pinned, points are a subset of the input, sorted unique
    src = {(t, v) for u, t, v in rows if u == "s1"}
    assert set(s1) <= src
    assert s1[0][0] == base and s1[-1][0] == base + timedelta(seconds=399)
    # the spike survives
    assert any(v == 300.0 for _, v in s1)
    # short streams pass through untouched
    assert len(by["s2"]) == 5
    # determinism
    again = lttb_downsample(df, keys=["uuid"], n_out=40).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out.collect()))


def test_cohort_retention_matrix(spark):
    from datetime import datetime, timedelta

    from mortar_parquet_support_spark.operators.timeseries import (
        cohort_retention,
    )

    day = lambda d: datetime(2024, 1, 1) + timedelta(days=d)  # noqa: E731
    rows = [
        # cohort week 0: users 1, 2; user 1 returns weeks 1 and 2, user 2 never
        (1, day(0)), (1, day(7)), (1, day(14)),
        (2, day(1)),
        # cohort week 1: user 3, returns week 2 (offset 1)
        (3, day(8)), (3, day(15)),
        (None, day(0)),  # anonymous: excluded
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.cohort, r.period_offset): (r.n_users, r.retention_rate)
        for r in cohort_retention(df, period="1 week").collect()
    }
    c0 = min(k[0] for k in out)
    assert out[(c0, 0)] == (2, 1.0)
    assert out[(c0, 1)] == (1, 0.5)
    assert out[(c0, 2)] == (1, 0.5)
    assert out[(c0 + 1, 0)] == (1, 1.0)
    assert out[(c0 + 1, 1)] == (1, 1.0)
    assert len(out) == 5


def test_transition_matrix_terminals_and_ties(spark):
    from datetime import datetime, timedelta

    from mortar_parquet_support_spark.operators.timeseries import (
        transition_matrix,
    )

    t = lambda s: datetime(2024, 1, 1) + timedelta(seconds=s)  # noqa: E731
    rows = [
        (1, 10, t(0), "view"), (1, 11, t(1), "click"), (1, 12, t(2), "buy"),
        (2, 20, t(0), "view"), (2, 21, t(1), "click"),
        # user 3: tie at the same ts — event_id breaks it (view -> click)
        (3, 30, t(5), "view"), (3, 31, t(5), "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in transition_matrix(
            df, order_tiebreak=["event_id"]
        ).collect()
    }
    assert out[("view", "click")] == (3, 1.0)
    assert out[("click", "buy")][0] == 1
    assert out[("click", None)][0] == 2  # two terminal clicks
    assert out[("buy", None)] == (1, 1.0)
    assert out[("click", "buy")][1] == round(1 / 3, 6)  # p is round(,6)


def test_rank_normalize_groups_ties_and_nulls(spark):
    from mortar_parquet_support_spark.operators.curation import rank_normalize

    df = spark.createDataFrame(
        [
            ("a", 1, 10.0),
            ("a", 2, 20.0),
            ("a", 3, 20.0),   # tie with row 2 -> same percentile
            ("a", 4, 30.0),
            ("a", 5, None),   # NULL score -> lowest percentile
            ("b", 6, 99.0),   # single-row group -> 0.0
        ],
        "lang string, doc_id long, score double",
    )
    out = {
        r.doc_id: r.score_pct
        for r in rank_normalize(df, "score", by="lang").collect()
    }
    assert out[5] == 0.0                      # NULL first
    # (rank-1)/(n-1) divisions of small ints are exact doubles
    assert out[1] == 0.25
    assert out[2] == 0.5 and out[2] == out[3]
    assert out[4] == 1.0
    assert out[6] == 0.0


def test_budget_select_prefix_and_null_handling(spark):
    from mortar_parquet_support_spark.operators.curation import budget_select

    df = spark.createDataFrame(
        [
            ("a", 1, 5.0, 40),
            ("a", 2, 4.0, 50),
            ("a", 3, 3.0, 30),   # cum 40+50+30=120 > 100 -> dropped
            ("a", 4, 2.0, 5),    # AFTER the over-budget row -> also dropped
            ("a", 5, None, 1),   # NULL score sorts last -> dropped here
            ("a", 6, 9.0, None), # NULL cost -> excluded up front
            ("b", 7, 1.0, 100),  # exactly the budget -> kept
            ("b", 8, 0.5, 1),
        ],
        "lang string, doc_id long, score double, cost long",
    )
    out = budget_select(
        df, score_col="score", cost_col="cost", budget=100, by="lang"
    )
    kept = {r.doc_id: r.cum_cost for r in out.collect()}
    assert kept == {1: 40, 2: 90, 7: 100}
    with pytest.raises(ValueError, match="budget"):
        budget_select(df, score_col="score", cost_col="cost", budget=0)


def test_budget_select_oversized_single_row_dropped(spark):
    from mortar_parquet_support_spark.operators.curation import budget_select

    df = spark.createDataFrame(
        [("a", 1, 1.0, 500), ("a", 2, 0.5, 10)],
        "lang string, doc_id long, score double, cost long",
    )
    kept = [
        r.doc_id
        for r in budget_select(
            df, score_col="score", cost_col="cost", budget=100, by="lang"
        ).collect()
    ]
    # the best row alone exceeds the budget: hard budgets drop it AND the
    # prefix chain after it (500, then 510)
    assert kept == []


def test_budget_select_negative_costs_cannot_readmit(spark):
    """Review finding: a negative cost dipped the running sum back under
    budget and re-admitted rows after the first over-budget one; the cut
    is now on the running peak (strict prefix)."""
    from mortar_parquet_support_spark.operators.curation import budget_select

    df = spark.createDataFrame(
        [
            ("a", 1, 5.0, 90),
            ("a", 2, 4.0, 20),    # cum 110 > 100: first over-budget row
            ("a", 3, 3.0, -50),   # cum 60 again — must STAY dropped
        ],
        "lang string, doc_id long, score double, cost long",
    )
    kept = [
        r.doc_id
        for r in budget_select(
            df, score_col="score", cost_col="cost", budget=100, by="lang"
        ).collect()
    ]
    assert kept == [1]


def test_profile_table_metrics_and_types(spark):
    from mortar_parquet_support_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 1.5, [1.0]),
            (2, "b", None, [2.0]),
            (2, None, 3.5, None),
        ],
        "id long, s string, x double, arr array<double>",
    )
    out = {
        (r.col_name, r.metric): r.value
        for r in profile_table(df, exact_distinct=True).collect()
    }
    assert out[("id", "rows")] == "3"
    assert out[("id", "nulls")] == "0"
    assert out[("id", "distinct")] == "2"
    assert out[("id", "min")] == "1" and out[("id", "max")] == "2"
    assert out[("s", "nulls")] == "1" and out[("s", "distinct")] == "2"
    assert out[("s", "min")] == "a" and out[("s", "max")] == "b"
    assert out[("x", "nulls")] == "1"
    # non-orderable types: min/max NULL, other metrics still real
    assert out[("arr", "min")] is None and out[("arr", "max")] is None
    assert out[("arr", "nulls")] == "1" and out[("arr", "distinct")] == "2"
    # 4 columns x 5 metrics
    assert len(out) == 20
    with pytest.raises(ValueError, match="no such columns"):
        profile_table(df, columns=["nope"])
    with pytest.raises(ValueError, match="no columns"):
        profile_table(df, columns=[])
    with pytest.raises(ValueError, match="duplicate columns"):
        profile_table(df, columns=["id", "id"])


def test_profile_table_timestamp_ranges(spark):
    """Review finding: timestamp columns were excluded from _ORDERABLE
    and silently got NULL min/max despite the documented ISO rendering."""
    from mortar_parquet_support_spark.operators.profile import profile_table

    df = spark.sql(
        "SELECT * FROM VALUES "
        "(timestamp'2024-01-01 00:00:00', timestamp_ntz'2024-06-01 12:00:00'),"
        "(timestamp'2024-03-01 08:30:00', timestamp_ntz'2024-05-01 01:00:00')"
        " AS t(ts, tsn)"
    )
    out = {
        (r.col_name, r.metric): r.value for r in profile_table(df).collect()
    }
    assert out[("ts", "min")] == "2024-01-01 00:00:00"
    assert out[("ts", "max")] == "2024-03-01 08:30:00"
    assert out[("tsn", "min")] == "2024-05-01 01:00:00"
    assert out[("tsn", "max")] == "2024-06-01 12:00:00"


def test_profile_table_single_aggregate_plan(spark):
    from mortar_parquet_support_spark.operators.profile import profile_table
    from tests.conftest import plan_str

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, s string"
    )
    out = profile_table(df)  # approx mode: no Expand in the plan
    out.collect()
    plan = plan_str(out).split("== Initial Plan ==")[0]
    assert "Expand" not in plan
    # global aggregate: exactly the partial/final agg exchange pair
    assert plan.count("HashAggregate") <= 2 or "SortAggregate" in plan


def test_group_distinct_approx_within_rsd(spark):
    """group_distinct_approx (the no-Expand HLL scale path in
    __spark_entry__) must estimate within a loose multiple of the
    configured rsd of the exact counts, and its plan must not Expand."""
    import __spark_entry__ as entrymod
    from tests.conftest import plan_str

    sf_dir = "/root/testdata/sf0.01"
    qs = entrymod.queries()
    exact = {
        r.l_returnflag: r for r in qs["group_distinct"](spark, sf_dir).collect()
    }
    approx_df = qs["group_distinct_approx"](spark, sf_dir)
    approx = {r.l_returnflag: r for r in approx_df.collect()}
    assert set(approx) == set(exact)
    for flag, ex in exact.items():
        ap = approx[flag]
        # rsd=0.02; allow 5 sigma — deterministic given fixed hashing, the
        # slack only guards against fixture drift
        for col in ("n_parts", "n_supps"):
            e, a = getattr(ex, col), getattr(ap, col)
            assert abs(a - e) <= max(5, 0.10 * e), (flag, col, e, a)
    plan = plan_str(approx_df).split("== Initial Plan ==")[0]
    assert "Expand" not in plan


def test_contamination_score_fractions(spark):
    """contamination_score: exact per-doc overlap fractions, NULL for
    shingle-less docs, 1.0 for full containment, binary-decontaminate
    agreement (score > 0 <=> contaminated_ids)."""
    from mortar_parquet_support_spark.operators.curation import (
        contaminated_ids,
        contamination_score,
    )

    corpus = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: "a b c","b c d" -> 1 of 2 hit
            (2, "a b c"),          # gram: "a b c" -> fully contained
            (3, "x y z w"),        # no overlap
            (4, "  "),             # whitespace-only: no shingles
            (5, None),             # NULL text: no shingles
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "a b c"), (101, "q r s")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in contamination_score(
            corpus, eval_df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1].n_grams == 2 and rows[1].n_contaminated == 1
    assert abs(rows[1].contamination - 0.5) < 1e-12
    assert rows[2].contamination == 1.0
    assert rows[3].contamination == 0.0 and rows[3].n_grams == 2
    for d in (4, 5):
        assert rows[d].n_grams == 0 and rows[d].contamination is None
    flagged = {
        r.doc_id
        for r in contaminated_ids(
            corpus, eval_df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    assert flagged == {d for d, r in rows.items() if (r.contamination or 0) > 0}


def test_canonicalize_url_rules(spark):
    from mortar_parquet_support_spark.operators.curation import canonicalize_url

    cases = {
        "HTTPS://WWW.Ex.COM:443/Docs/P/?b=2&a=1&utm_source=x&fbclid=z#f":
            "https://ex.com/Docs/P?a=1&b=2",
        "http://ex.com:80/": "http://ex.com/",
        "http://ex.com": "http://ex.com/",          # bare host gains '/'
        "https://ex.com/a/b/": "https://ex.com/a/b",  # trailing slash strip
        "https://ex.com:8080/x": "https://ex.com:8080/x",  # non-default port kept
        "not a url": None,
        "": None,
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r.url: r.c for r in df.withColumn("c", canonicalize_url("url")).collect()}
    assert got == cases


def test_dedup_by_url_collapses_variants(spark):
    from mortar_parquet_support_spark.operators.curation import dedup_by_url

    rows = [
        (1, "https://ex.com/a?x=1&utm_source=s"),
        (2, "HTTPS://WWW.EX.COM/a/?x=1"),   # same canonical as 1
        (3, "https://ex.com/b"),
        (4, "relative/path"),                # keyless: passes through
        (5, None),                           # keyless: passes through
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = dedup_by_url(df, url_col="url", order_by=[F.col("id")])
    kept = sorted(r.id for r in out.collect())
    assert kept == [1, 3, 4, 5]  # id 2 collapsed into 1 (lower id wins)
    canon = {r.id: r.canonical_url for r in out.collect()}
    assert canon[1] == "https://ex.com/a?x=1" and canon[4] is None


def test_heavy_hitters_mg_guarantees(spark):
    """Misra-Gries heavy hitters: (a) the lossy regime obeys the
    mergeable-summaries guarantee — every item with true frequency >
    n/(k+1) survives, and every estimate lies in
    [freq - n/(k+1), freq]; (b) with k >= true distinct count the
    summary is EXACT; (c) summaries built with different k never merge."""
    from mortar_parquet_support_spark.operators.sketches import (
        heavy_hitters,
        mg_reaggregate,
        mg_rollup,
    )

    rows = []
    for i in range(50):  # zipf-ish skew: item i has freq ~ 1000/(i+1)
        rows += [(1, f"item{i:02d}")] * (1000 // (i + 1))
    df = spark.createDataFrame(rows, "g int, item string").repartition(8)
    n = df.count()
    exact = {
        r.item: r.cnt
        for r in df.groupBy("item").agg(F.count("*").alias("cnt")).collect()
    }
    k = 10
    got = {
        r.item: r.cnt
        for r in heavy_hitters(df, item="item", keys=["g"], k=k).collect()
    }
    assert len(got) <= k
    thr = n / (k + 1)
    for it, f_true in exact.items():
        if f_true > thr:
            assert it in got, (it, f_true, thr)
    for it, est in got.items():
        assert exact[it] - thr <= est <= exact[it], (it, exact[it], est)
    # exact regime
    full = {
        r.item: r.cnt
        for r in heavy_hitters(df, item="item", keys=["g"], k=64).collect()
    }
    assert full == exact
    # different-k summaries stay on separate rows instead of mixing
    s1 = mg_rollup(df, item="item", keys=["g"], k=5)
    s2 = mg_rollup(df, item="item", keys=["g"], k=7)
    merged = mg_reaggregate(s1.unionByName(s2), group_cols=["g"])
    ks = {r.k for r in merged.select("k").distinct().collect()}
    assert ks == {5, 7}
    with pytest.raises(ValueError, match="k must be"):
        mg_rollup(df, item="item", k=0)


def test_sample_exact_k_deterministic(spark):
    """sample_exact_k: exact per-group size, repartition-invariant
    membership, group isolation (adding rows elsewhere never disturbs a
    group's picks), and k >= group size keeps everything."""
    from mortar_parquet_support_spark.operators.sampling import sample_exact_k

    rows = [(i, f"g{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "id long, g string")
    out1 = sample_exact_k(df, "id", 5, by=["g"], salt="s")
    picks1 = {(r.g, r.id) for r in out1.collect()}
    sizes = {}
    for g, i in picks1:
        sizes[g] = sizes.get(g, 0) + 1
    assert sizes == {"g0": 5, "g1": 5, "g2": 5}
    # repartition-invariant
    out2 = sample_exact_k(df.repartition(13), "id", 5, by=["g"], salt="s")
    assert {(r.g, r.id) for r in out2.collect()} == picks1
    # group isolation: new rows in g3 leave g0-g2 picks untouched
    df2 = df.unionByName(
        spark.createDataFrame([(1000 + i, "g3") for i in range(10)], "id long, g string")
    )
    out3 = sample_exact_k(df2, "id", 5, by=["g"], salt="s")
    assert {(r.g, r.id) for r in out3.collect() if r.g != "g3"} == picks1
    # k >= group size keeps all rows
    assert sample_exact_k(df, "id", 100, by=["g"], salt="s").count() == 90
    with pytest.raises(ValueError, match="k must be"):
        sample_exact_k(df, "id", 0)


def test_similarity_join_equals_brute_force(spark):
    """Prefix-filtered exact Jaccard join == brute-force all-pairs at
    several thresholds (losslessness of the prefix + length filters),
    plus plan sanity (no cartesian product) and validation."""
    from tests.conftest import plan_str

    from mortar_parquet_support_spark.functions import word_shingles
    from mortar_parquet_support_spark.operators.dedup import similarity_join

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different document about spark",
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
        "short one",
        "",
    ]
    docs = spark.createDataFrame(
        list(enumerate(base)), "doc_id long, text string"
    )

    def brute(t):
        g = docs.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("sh")
        ).filter(F.col("sh").isNotNull())
        a = g.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = g.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = (F.size("sa") + F.size("sb")).cast("double") - inter
        jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
        return {
            (r.id_a, r.id_b): round(r.j, 9)
            for r in pairs.select("id_a", "id_b", jac.alias("j"))
            .filter(jac >= t)
            .collect()
        }

    for t in (0.3, 0.5, 0.9, 1.0):
        out = similarity_join(
            docs, id_col="doc_id", text_col="text", threshold=t
        )
        got = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in out.collect()}
        assert got == brute(t), t
        if t == 0.5:
            assert "CartesianProduct" not in plan_str(out)
    # the exact-dup pair and the empty-vs-nothing behavior at t=1.0
    top = similarity_join(docs, id_col="doc_id", text_col="text", threshold=1.0)
    assert {(r.id_a, r.id_b) for r in top.collect()} == {(0, 4)}
    with pytest.raises(ValueError, match="threshold"):
        similarity_join(docs, id_col="doc_id", text_col="text", threshold=0.0)


def test_similarity_join_float_ceil_boundary(spark):
    """Regression (ADVICE r9): IEEE rounding of t*sz (0.14*50 =
    7.000000000000001 -> ceil 8 vs exact 7) must not shorten the prefix
    or tighten the size band — that silently drops a pair whose exact
    Jaccard equals the threshold.

    Construction: doc A = 43 unique words + 7 words shared with doc B
    (B = exactly those 7 words). Shared tokens have corpus count 2, so
    frequency-ascending ordering sorts them LAST in A — positions 44-50.
    Exact prefix length for A is 50 - ceil(0.14*50) + 1 = 44, so
    position 44 (the first shared token) is in the prefix and the pair
    collides; the buggy float ceil gave 43, excluding every shared
    token, AND rejected the pair at the band (sz_b=7 >= ceil->8 false).
    Exact Jaccard = 7/50 = 0.14 — qualifying, boundary-exact."""
    from mortar_parquet_support_spark.operators.dedup import similarity_join

    shared = [f"s{i:02d}" for i in range(7)]
    unique = [f"u{i:02d}" for i in range(43)]
    docs = spark.createDataFrame(
        [(0, " ".join(unique + shared)), (1, " ".join(shared))],
        "doc_id long, text string",
    )
    out = similarity_join(
        docs, id_col="doc_id", text_col="text", threshold=0.14,
        shingle_words=1,
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert abs(out[0].jaccard - 7 / 50) < 1e-12


def test_group_split_no_straddle(spark):
    """group_split: every row of a group gets the SAME label (the
    leakage-safety invariant row-keyed hash_split cannot give), weights
    partition, NULL groups travel together."""
    from mortar_parquet_support_spark.operators.sampling import group_split

    rows = [(i, f"dom{i % 17}" if i % 50 else None) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, dom string")
    out = group_split(df, "dom", {"train": 0.7, "val": 0.15, "test": 0.15})
    per_group = (
        out.groupBy("dom")
        .agg(F.count_distinct("split").alias("n"))
        .collect()
    )
    assert all(r.n == 1 for r in per_group)
    assert out.filter(F.col("split").isNull()).count() == 0  # weights sum to 1
    null_splits = {r.split for r in out.filter(F.col("dom").isNull()).collect()}
    assert len(null_splits) == 1


def test_skew_report_shares_and_validation(spark):
    from mortar_parquet_support_spark.operators.profile import skew_report

    rows = [("hot",)] * 70 + [("warm",)] * 20 + [(None,)] * 10
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, ["k"], top=2).collect()
    assert [(r.k, r.n, r.rank) for r in out] == [("hot", 70, 1), ("warm", 20, 2)]
    assert abs(out[0].share - 0.7) < 1e-12
    # NULL keys count as a key (often the hottest one)
    out3 = {r.k: r for r in skew_report(df, ["k"], top=3).collect()}
    assert out3[None].n == 10
    import pytest as _pt

    with _pt.raises(TypeError, match="sequence"):
        skew_report(df, "k")
    with _pt.raises(ValueError, match="top"):
        skew_report(df, ["k"], top=0)


def test_apply_cdc_rules(spark):
    """apply_cdc: latest-version-wins, same-version tie toward delete,
    inserts of new keys, passthrough, NULL-version rejection."""
    from mortar_parquet_support_spark.sources.maintenance import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, val string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 2, "U"),   # plain update
            (2, "b", 1, "D"),    # plain delete
            (3, "c", 1, "D"),    # older delete...
            (3, "c3", 3, "U"),   # ...overridden by newer update
            (4, "x", 5, "I"),    # same-version I+D -> delete wins
            (4, "x", 5, "D"),
            (9, "new", 1, "I"),  # insert of a brand-new key
        ],
        "k long, val string, v int, op string",
    )
    out = {r.k: r.val for r in apply_cdc(
        base, changes, keys=("k",), version_col="v"
    ).collect()}
    assert out == {1: "a2", 3: "c3", 9: "new"}
    import pytest as _pt

    with _pt.raises(ValueError, match="NULL"):
        apply_cdc(
            base,
            spark.createDataFrame([(1, "z", None, "U")], "k long, val string, v int, op string"),
            keys=("k",), version_col="v",
        )
    # NULL op would NULL-match the untouched branch: the latest change
    # silently ignored for existing keys, a ghost all-NULL row for new
    # ones (ADVICE r9) — rejected as loudly as a NULL version
    with _pt.raises(ValueError, match="'op'"):
        apply_cdc(
            base,
            spark.createDataFrame(
                [(1, "z", 7, None)], "k long, val string, v int, op string"
            ),
            keys=("k",), version_col="v",
        )
    with _pt.raises(ValueError, match="key columns"):
        apply_cdc(base, changes, keys=("k", "v"), version_col="v")


def test_merge_intervals_islands(spark):
    """merge_intervals: overlap, touch, containment (the running-max-end
    pitfall), gap tolerance, NULL-end point intervals, and validation."""
    from mortar_parquet_support_spark.operators.timeseries import (
        merge_intervals,
    )

    rows = [
        ("a", 0, 100), ("a", 10, 20), ("a", 30, 40),  # contained: ONE island
        ("a", 100, 110),                               # touches 100: merges
        ("a", 200, 210), ("a", 215, 220),              # gap 5: separate at gap=0
        ("b", 5, None),                                # point interval
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = {(r.k, r.s, r.e): r.n_intervals for r in merge_intervals(
        df, start="s", end="e", keys=["k"]
    ).collect()}
    assert out == {
        ("a", 0, 110): 4, ("a", 200, 210): 1, ("a", 215, 220): 1, ("b", 5, 5): 1,
    }
    # gap=5 bridges the 210->215 hole
    out5 = {(r.k, r.s, r.e) for r in merge_intervals(
        df, start="s", end="e", keys=["k"], gap=5
    ).collect()}
    assert ("a", 200, 220) in out5
    import pytest as _pt

    # validation is folded into the main pass (ADVICE r9): bad rows
    # raise at ACTION time from the in-plan assert column — no eager
    # pre-scan jobs on the clean path
    with _pt.raises(Exception, match="inverted"):
        merge_intervals(
            spark.createDataFrame([("a", 10, 5)], "k string, s long, e long"),
            start="s", end="e", keys=["k"],
        ).collect()
    with _pt.raises(Exception, match="NULL 's'"):
        merge_intervals(
            spark.createDataFrame([("a", None, 5)], "k string, s long, e long"),
            start="s", end="e", keys=["k"],
        ).collect()
    # validate=False skips the check entirely for pre-validated inputs
    assert merge_intervals(
        df, start="s", end="e", keys=["k"], validate=False
    ).count() == 4
    # timestamp bounds with an interval-string gap
    tdf = spark.sql(
        "SELECT * FROM VALUES "
        "('x', timestamp'2024-01-01 00:00:00', timestamp'2024-01-01 00:10:00'),"
        "('x', timestamp'2024-01-01 00:12:00', timestamp'2024-01-01 00:20:00')"
        " AS t(k, s, e)"
    )
    m = merge_intervals(tdf, start="s", end="e", keys=["k"], gap="5 minutes").collect()
    assert len(m) == 1 and m[0].n_intervals == 2


def test_histogram_exact_bins(spark):
    """histogram: numpy.histogram parity (right edge closed on the last
    bin only), constant groups collapse to bin 0, NULLs unbinned, empty
    bins not emitted."""
    import numpy as np

    from mortar_parquet_support_spark.operators.profile import histogram

    vals = [0.0, 1.0, 2.5, 5.0, 7.5, 10.0, 10.0, None]
    df = spark.createDataFrame([("a", v) for v in vals], "g string, v double")
    out = {r.bin: r for r in histogram(df, value="v", keys=["g"], bins=4).collect()}
    ref_counts, ref_edges = np.histogram(
        [v for v in vals if v is not None], bins=4, range=(0.0, 10.0)
    )
    got_counts = [out[b].n if b in out else 0 for b in range(4)]
    assert got_counts == list(ref_counts), (got_counts, ref_counts)
    for b, r in out.items():
        assert abs(r.lo - ref_edges[b]) < 1e-12
        assert abs(r.hi - ref_edges[b + 1]) < 1e-12
    const = spark.createDataFrame([("c", 5.0)] * 3, "g string, v double")
    rows = histogram(const, value="v", keys=["g"], bins=4).collect()
    assert len(rows) == 1 and rows[0].bin == 0 and rows[0].n == 3
    import pytest as _pt

    with _pt.raises(ValueError, match="bins"):
        histogram(df, value="v", bins=0)


def test_coverage_gaps_interior_and_edges(spark):
    from mortar_parquet_support_spark.operators.timeseries import (
        coverage_gaps,
    )

    rows = [("a", 10, 20), ("a", 15, 25), ("a", 40, 50), ("b", 0, 100)]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    interior = {(r.k, r.gap_start, r.gap_end) for r in coverage_gaps(
        df, start="s", end="e", keys=["k"]
    ).collect()}
    assert interior == {("a", 25, 40)}
    # window edges: silence before first island and after the last
    edged = {(r.k, r.gap_start, r.gap_end) for r in coverage_gaps(
        df, start="s", end="e", keys=["k"], window_start=0, window_end=120
    ).collect()}
    assert edged == {
        ("a", 25, 40), ("a", 0, 10), ("a", 50, 120), ("b", 100, 120),
    }


def test_temperature_weights_limits(spark):
    from mortar_parquet_support_spark.operators.sampling import (
        temperature_weights,
    )

    rows = [("big",)] * 90 + [("small",)] * 10 + [(None,)] * 5
    df = spark.createDataFrame(rows, "d string")
    nat = temperature_weights(df, "d", alpha=1.0)
    assert abs(nat["big"] - 0.9) < 1e-12 and abs(nat["small"] - 0.1) < 1e-12
    uni = temperature_weights(df, "d", alpha=0.0)
    assert abs(uni["big"] - 0.5) < 1e-12 and abs(uni["small"] - 0.5) < 1e-12
    half = temperature_weights(df, "d", alpha=0.5)
    import math

    expect_big = math.sqrt(90) / (math.sqrt(90) + math.sqrt(10))
    assert abs(half["big"] - expect_big) < 1e-12
    assert abs(sum(half.values()) - 1.0) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError, match="alpha"):
        temperature_weights(df, "d", alpha=-1)
    with _pt.raises(ValueError, match="no non-NULL"):
        temperature_weights(df.filter(F.col("d").isNull()), "d")


def test_temperature_mixture_fused_equals_composition(spark):
    """The in-plan temperature_mixture (r10, no driver dict handoff)
    must reproduce the temperature_weights -> build_mixture composition
    row for row — the weight-round at 1e-9 is far coarser than the
    composition's own float error on this fixture. Also: NULL domains
    excluded, validation, and the expected upweighting direction."""
    from mortar_parquet_support_spark.operators.sampling import (
        build_mixture,
        temperature_mixture,
        temperature_weights,
    )

    rows = [(i, "big") for i in range(300)] + [
        (i + 1000, "small") for i in range(30)
    ] + [(9999, None)]
    df = spark.createDataFrame(rows, "id long, d string")
    fused = temperature_mixture(
        df, "id", "d", alpha=0.4, target_rows=500, salt="x:"
    )
    w = temperature_weights(df, "d", alpha=0.4)
    composed = build_mixture(
        df.filter(F.col("d").isNotNull()), "id", "d", w,
        target_rows=500, salt="x:",
    )
    got = {(r.id, r.d, r.epoch) for r in fused.collect()}
    want = {(r.id, r.d, r.epoch) for r in composed.collect()}
    assert got == want and len(got) > 0
    assert not any(d is None for _, d, _e in got)
    # alpha < 1 boosts the scarce domain above natural share
    n_small = sum(1 for _, d, _e in got if d == "small")
    assert n_small / len(got) > 30 / 330
    import pytest as _pt

    with _pt.raises(ValueError, match="alpha"):
        temperature_mixture(df, "id", "d", alpha=-1, target_rows=10)
    with _pt.raises(ValueError, match="epoch"):
        temperature_mixture(
            df.withColumn("epoch", F.lit(0)), "id", "d", target_rows=10
        )


def test_seasonal_decompose_recovers_analytic_components(spark):
    """Classical additive decomposition on trend+sine data must recover
    each component EXACTLY in the interior: a centered MA over one full
    period zeroes a zero-mean seasonal and passes a linear trend through
    unchanged, so trend == the line, seasonal == the (centered) sine, and
    resid == 0 wherever the window is full. Even period exercises the
    2xMA half-weighted path; edges are NULL, never silently averaged
    short."""
    import math

    from mortar_parquet_support_spark.operators.timeseries import (
        seasonal_decompose,
    )

    P = 24
    season = [math.sin(2 * math.pi * i / P) for i in range(P)]
    mean_season = sum(season) / P
    rows = [
        (k, t * 3600, 10.0 + 0.5 * t + season[t % P])
        for k in ("a", "b")
        for t in range(4 * P)
    ]
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )
    out = seasonal_decompose(
        df, ts="bucket", value="value", keys=["key"], period=P, step="1 hour"
    ).collect()
    assert len(out) == 2 * 4 * P
    nulls = 0
    for r in out:
        t = int(r.bucket.timestamp()) // 3600
        if r.trend is None:
            nulls += 1
            assert r.resid is None  # degrade together, loudly
            continue
        assert abs(r.trend - (10.0 + 0.5 * t)) < 1e-8
        assert abs(r.seasonal - (season[t % P] - mean_season)) < 1e-6
        assert abs(r.resid) < 1e-6
    assert nulls == 2 * 2 * (P // 2)  # half-period NULL edge per side per key


def test_seasonal_decompose_odd_period_and_gap_nulls(spark):
    """Odd period takes the plain centered-MA path; a missing point must
    NULL the trend of every row whose window spans the gap (the range
    frame counts points, never averages short), and phases stay anchored
    to the epoch, not to row position."""
    from mortar_parquet_support_spark.operators.timeseries import (
        seasonal_decompose,
    )

    P = 3
    rows = [("k", t * 60, float(t % P)) for t in range(12) if t != 6]
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )
    out = {
        int(r.bucket.timestamp()) // 60: r
        for r in seasonal_decompose(
            df, ts="bucket", value="value", keys=["key"], period=P,
            step="1 minute",
        ).collect()
    }
    # t=5 and t=7 windows span the missing t=6 -> NULL; t=6 itself absent
    assert out[5].trend is None and out[7].trend is None
    assert out[0].trend is None and out[11].trend is None  # edges
    for t in (1, 2, 3, 4, 8, 9, 10):
        assert out[t].trend is not None
        assert abs(out[t].trend - 1.0) < 1e-9  # MA of one full 0,1,2 cycle
    # epoch-anchored phases: t=8 (phase 2) keeps seasonal of value 2
    assert abs(out[8].seasonal - (2.0 - 1.0)) < 1e-9

    with pytest.raises(ValueError, match="period"):
        seasonal_decompose(df, keys=["key"], period=1)


def test_pairwise_correlation_alignment_and_edge_cases(spark):
    """corr(x, 2x)=1, corr(x, -x)=-1 on ALIGNED timestamps only (the
    misaligned observation must not enter), constant streams yield NULL
    (zero variance), and pairs under min_points are dropped rather than
    emitting a +-1.0 from two points."""
    import numpy as np

    from mortar_parquet_support_spark.operators.timeseries import (
        pairwise_correlation,
    )

    rows = []
    xs = [1.0, 4.0, 2.0, 8.0, 5.0]
    for t, x in enumerate(xs):
        rows += [(t, "x", x), (t, "y", 2 * x), (t, "z", -x), (t, "c", 7.0)]
    rows.append((99, "x", 1000.0))  # y/z/c never saw t=99 -> excluded
    rows += [(0, "w", 1.0), (1, "w", 9.0)]  # only 2 aligned points
    df = spark.createDataFrame(rows, ["bucket", "uuid", "value"])
    out = {
        (r.key_a, r.key_b): r
        for r in pairwise_correlation(
            df, ts="bucket", key="uuid", value="value", min_points=3
        ).collect()
    }
    assert out[("x", "y")].n_points == 5  # t=99 misalignment excluded
    assert abs(out[("x", "y")].corr - 1.0) < 1e-12
    assert abs(out[("x", "z")].corr + 1.0) < 1e-12
    assert out[("c", "x")].corr is None  # constant stream: undefined
    # numpy cross-check on a non-trivial pair
    yz = np.corrcoef([2 * v for v in xs], [-v for v in xs])[0, 1]
    assert abs(out[("y", "z")].corr - yz) < 1e-12
    assert not any("w" in k for k in out)  # min_points dropped the pair


def test_lagged_correlation_sign_convention_and_peak(spark):
    """b = a shifted 2 steps later must peak at EXACTLY lag +2 with
    corr 1.0 ("a leads b"), lag 0 must match pairwise_correlation, and
    the mirrored (b, a) orientation is never emitted (the signed lag
    range carries both directions)."""
    from mortar_parquet_support_spark.operators.timeseries import (
        lagged_correlation,
        pairwise_correlation,
    )

    xs = [1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.0, 9.0, 6.0, 2.5]
    rows = [("a", t * 60, x) for t, x in enumerate(xs)]
    rows += [("b", (t + 2) * 60, x) for t, x in enumerate(xs)]  # b lags a by 2
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )
    out = {
        (r.key_a, r.key_b, r.lag): r
        for r in lagged_correlation(
            df, ts="bucket", key="key", value="value", max_lag=3,
            step="1 minute", min_points=3,
        ).collect()
    }
    assert all(k[0] == "a" and k[1] == "b" for k in out)
    peak = out[("a", "b", 2)]
    assert abs(peak.corr - 1.0) < 1e-12 and peak.n_points == len(xs)
    # every other lag aligns shifted copies of a non-periodic series: < 1
    for (ka, kb, lag), r in out.items():
        if lag != 2 and r.corr is not None:
            assert r.corr < 0.999, (lag, r.corr)
    # lag 0 == pairwise_correlation on the same frame
    pw = pairwise_correlation(
        df, ts="bucket", key="key", value="value", min_points=3
    ).collect()[0]
    assert abs(out[("a", "b", 0)].corr - pw.corr) < 1e-12
    assert out[("a", "b", 0)].n_points == pw.n_points

    with pytest.raises(ValueError, match="max_lag"):
        lagged_correlation(df, key="key", max_lag=0)


def test_correlated_pairs_prunes_and_matches_exact(spark):
    """The candidate-pruned correlation sibling (r13): on a fixture of 30
    streams with planted noisy high-correlation pairs, (1) every surviving
    pair's corr EXACTLY matches pairwise_correlation's (the exact core is
    shared), (2) recall vs the exact operator at the threshold is 1.0,
    (3) the anticorrelated leg finds the planted negative pair, and
    (4) the candidate set is genuinely pruned — far below S*(S-1)/2."""
    import math
    import random

    from mortar_parquet_support_spark.operators.timeseries import (
        correlated_pairs,
        pairwise_correlation,
    )

    rng = random.Random(13)
    n_t = 240
    rows = []
    # 24 independent decoy streams
    base = {}
    for s in range(24):
        xs = [rng.gauss(0, 1) for _ in range(n_t)]
        base[f"s{s:02d}"] = xs
        rows += [(f"s{s:02d}", t * 3600, x) for t, x in enumerate(xs)]
    # planted: three noisy positive siblings of s00/s01/s02, one negative
    for s in range(3):
        xs = [x + rng.gauss(0, 0.25) for x in base[f"s{s:02d}"]]
        rows += [(f"s{s:02d}p", t * 3600, x) for t, x in enumerate(xs)]
    neg = [-x + rng.gauss(0, 0.25) for x in base["s03"]]
    rows += [("s03n", t * 3600, x) for t, x in enumerate(neg)]
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )

    thr = 0.9
    exact = {
        (r.key_a, r.key_b): r.corr
        for r in pairwise_correlation(
            df, ts="bucket", key="key", value="value", min_points=10
        ).collect()
        if r.corr is not None and r.corr >= thr
    }
    assert len(exact) == 3  # the three planted positive pairs
    got = {
        (r.key_a, r.key_b): r.corr
        for r in correlated_pairs(
            df, ts="bucket", key="key", value="value",
            threshold=thr, min_points=10,
        ).collect()
    }
    assert got.keys() == exact.keys()  # recall 1.0 AND no false survivors
    for k in exact:  # the exact core is shared — same aggregate, only
        # the join's partial-sum order differs (last-ulp window)
        assert math.isclose(got[k], exact[k], rel_tol=0, abs_tol=1e-12)

    both = correlated_pairs(
        df, ts="bucket", key="key", value="value",
        threshold=thr, min_points=10, anticorrelated=True,
    ).collect()
    keys = {(r.key_a, r.key_b) for r in both}
    assert ("s03", "s03n") in keys  # the planted negative pair
    assert keys - {("s03", "s03n")} == set(exact)

    # pruning is real: count candidate-pair rows via the n_points trace —
    # every candidate pair that aligns shows up in the UNFILTERED exact
    # stage; assert the screened pair count is far below all-pairs
    s_count = df.select("key").distinct().count()
    all_pairs = s_count * (s_count - 1) // 2  # 28 streams -> 378
    screened = correlated_pairs(
        df, ts="bucket", key="key", value="value",
        threshold=1e-12, min_points=10, anticorrelated=True,  # keep every
        # screened candidate (|corr| >= ~0): the count IS the screen's size
    ).count()
    assert screened < all_pairs / 3, (screened, all_pairs)


def test_top_correlated_partners_ranks_within_threshold(spark):
    """top_correlated_partners (r13): per-stream strongest partners AMONG
    pairs above the threshold. s00 has two planted siblings (tight and
    loose noise) — rank 1 must be the tighter one; streams with no
    above-threshold partner emit nothing; both orientations rank (the
    sibling's own top-1 is s00); k validation is loud."""
    import random

    from mortar_parquet_support_spark.operators.timeseries import (
        top_correlated_partners,
    )

    rng = random.Random(7)
    rows = []
    base = [rng.gauss(0, 1) for _ in range(240)]
    for s in ("s00", "s01"):  # s01: independent decoy
        xs = base if s == "s00" else [rng.gauss(0, 1) for _ in range(240)]
        rows += [(s, t * 3600, x) for t, x in enumerate(xs)]
    rows += [("s00tight", t * 3600, x + rng.gauss(0, 0.1))
             for t, x in enumerate(base)]
    rows += [("s00loose", t * 3600, x + rng.gauss(0, 0.4))
             for t, x in enumerate(base)]
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )
    out = {
        (r.key, r.rank): r.partner
        for r in top_correlated_partners(
            df, ts="bucket", key="key", value="value", k=2,
            threshold=0.85, min_points=10,
        ).collect()
    }
    assert out[("s00", 1)] == "s00tight"  # tighter sibling outranks
    assert out[("s00", 2)] == "s00loose"
    assert out[("s00tight", 1)] == "s00"  # both orientations ranked
    assert not any(k[0] == "s01" for k in out)  # decoy: no partner
    with pytest.raises(ValueError, match="k must be"):
        top_correlated_partners(df, key="key", k=0)


def test_timeseries_contract_guards_fail_loudly(spark):
    """The ADVICE r12 silent-wrong-answer modes now reject loudly:
    duplicate (key, ts) observations would duplicate-weight every moment
    in the correlation operators (validate=True buys the check), and
    pre-existing scratch/output column names would be silently
    overwritten by the seasonal operators."""
    from mortar_parquet_support_spark.operators.timeseries import (
        lagged_correlation,
        pairwise_correlation,
        seasonal_anomalies,
        seasonal_decompose,
    )

    dup = spark.createDataFrame(
        [(0, "x", 1.0), (0, "x", 2.0), (60, "x", 3.0), (0, "y", 1.0),
         (60, "y", 2.0)],
        ["ep", "uuid", "value"],
    ).select("uuid", F.col("ep").cast("timestamp").alias("bucket"), "value")
    from mortar_parquet_support_spark.operators.timeseries import (
        correlated_pairs,
    )

    with pytest.raises(ValueError, match="duplicate"):
        pairwise_correlation(df=dup, key="uuid", validate=True)
    with pytest.raises(ValueError, match="duplicate"):
        lagged_correlation(df=dup, key="uuid", step="1 minute", validate=True)
    with pytest.raises(ValueError, match="duplicate"):
        correlated_pairs(df=dup, key="uuid", validate=True)
    # without the flag the documented contract is the caller's job —
    # the call itself must still run (no behavior change by default)
    assert pairwise_correlation(df=dup, key="uuid").count() >= 0

    clean = dup.dropDuplicates(["uuid", "bucket"])
    # ADVICE r13: lagged_correlation(validate=True)'s scratch __ve would
    # silently replace a caller's __ve column — same clash class as the
    # seasonal guards below
    with pytest.raises(ValueError, match="__ve"):
        lagged_correlation(
            clean.withColumn("__ve", F.lit(0)), key="uuid",
            step="1 minute", validate=True,
        )
    with pytest.raises(ValueError, match="trend"):
        seasonal_decompose(clean.withColumn("trend", F.lit(0.0)), keys=["uuid"])
    with pytest.raises(ValueError, match="__phase"):
        seasonal_decompose(clean.withColumn("__phase", F.lit(1)), keys=["uuid"])
    with pytest.raises(ValueError, match="score"):
        seasonal_anomalies(clean.withColumn("score", F.lit(0.0)), keys=["uuid"])


def test_asof_join_null_timestamps_never_fabricate_matches(spark):
    """Review r14: a NULL-ts right row sorted NULLS FIRST and its struct
    was carried into every left row before the first real match —
    fabricated data with matched_ts NULL (pd.merge_asof rejects NULL
    keys outright). NULL-ts LEFT rows keep left-join semantics but must
    never match either (forward's DESC ordering put them where they saw
    the final right row)."""
    from mortar_parquet_support_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("k", "2020-01-02 00:00:00"), ("k", None)], ["k", "time"]
    ).withColumn("time", F.col("time").cast("timestamp"))
    right = spark.createDataFrame(
        [("k", None, 99.0), ("k", "2020-01-01 00:00:00", 1.0)],
        ["k", "time", "price"],
    ).withColumn("time", F.col("time").cast("timestamp"))
    for direction in ("backward", "forward", "nearest"):
        got = {
            (str(r.time), r.price)
            for r in asof_join(
                left, right, on=["k"], ts="time", direction=direction
            ).collect()
        }
        want_price = 1.0 if direction == "backward" else (
            None if direction == "forward" else 1.0
        )
        assert ("None", None) in got  # NULL-ts left row: kept, unmatched
        assert ("2020-01-02 00:00:00", want_price) in got, (direction, got)

    # output-name collision with a chained-join column rejects loudly
    chained = left.withColumn("price", F.lit(0.0)).withColumn(
        "right_price", F.lit(0.0)
    )
    with pytest.raises(ValueError, match="right_price"):
        asof_join(chained, right, on=["k"], ts="time")


def test_merge_intervals_timestamp_bounds_default_gap(spark):
    """Review r14: the default gap=0 failed analysis on timestamp bounds
    (TIMESTAMP + INT) — the headline use case; a numeric gap now means
    seconds there. Edge gaps also clamp to the reporting window."""
    from mortar_parquet_support_spark.operators.timeseries import (
        coverage_gaps,
        merge_intervals,
        topk_per_group,
    )

    iv = spark.createDataFrame(
        [("x", "2020-01-01 00:00:00", "2020-01-01 01:00:00"),
         ("x", "2020-01-01 01:00:00", "2020-01-01 02:00:00"),
         ("x", "2020-01-01 03:00:00", "2020-01-01 04:00:00")],
        ["k", "start", "end"],
    ).select(
        "k",
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    got = merge_intervals(iv, keys=["k"]).orderBy("start").collect()
    assert len(got) == 2  # touching intervals merge at the default gap
    assert got[0].n_intervals == 2

    # coverage outside the window must not extend gaps past it
    num = spark.createDataFrame([("x", 10, 20)], ["k", "start", "end"])
    gaps = coverage_gaps(
        num, keys=["k"], window_start=100, window_end=200
    ).collect()
    assert [(g.gap_start, g.gap_end) for g in gaps] == [(100, 200)]

    # topk_per_group scratch-column clash rejects loudly (r14)
    with pytest.raises(ValueError, match="__rn"):
        topk_per_group(
            num.withColumn("__rn", F.lit(1)), keys=["k"],
            order_by=["start"], k=1,
        )


def test_cusum_changepoints_detects_planted_shift(spark):
    """A planted +3-sigma mean shift must alarm on the HIGH side shortly
    after onset and never before; the pre-shift half stays quiet; a
    downward shift mirrors onto s_lo; constant streams never alarm
    (std==0 -> z=0); the fold matches an independent numpy replay
    bit-for-bit."""
    import numpy as np

    from mortar_parquet_support_spark.operators.timeseries import (
        cusum_changepoints,
    )

    rng = [((-1) ** i) * ((i * 7 % 5) / 10.0) for i in range(40)]  # ~noise
    up = [v + (3.0 if i >= 20 else 0.0) for i, v in enumerate(rng)]
    down = [v - (3.0 if i >= 20 else 0.0) for i, v in enumerate(rng)]
    rows = (
        [("up", t * 60, v) for t, v in enumerate(up)]
        + [("down", t * 60, v) for t, v in enumerate(down)]
        + [("flat", t * 60, 4.2) for t in range(40)]
    )
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )
    out = cusum_changepoints(
        df, ts="bucket", key="key", value="value", drift=0.5, threshold=5.0
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    for k in by_key:
        by_key[k].sort(key=lambda r: r.bucket)

    # side-specific: against FULL-series moments a level shift pushes the
    # pre-shift half low and the post-shift half high, so for 'up' the
    # HIGH statistic must cross only after onset (the low side may
    # legitimately alarm on the depressed first half — that asymmetry is
    # what the two-sided trace exists to show)
    up_hi = [i for i, r in enumerate(by_key["up"]) if r.s_hi > 5.0]
    assert up_hi and min(up_hi) >= 20
    down_lo = [i for i, r in enumerate(by_key["down"]) if r.s_lo > 5.0]
    assert down_lo and min(down_lo) >= 20
    assert all(not r.alarm and r.s_hi == 0.0 and r.z == 0.0 for r in by_key["flat"])

    # bit-for-bit numpy replay of the 'up' stream
    x = np.array(up)
    mean = x.sum() / len(x)
    std = float(np.sqrt(((x - mean) ** 2).sum() / (len(x) - 1)))
    z = (x - mean) / std
    hi = 0.0
    for i, r in enumerate(by_key["up"]):
        hi = max(0.0, hi + z[i] - 0.5)
        assert r.s_hi == hi and r.z == z[i]

    with pytest.raises(ValueError, match="threshold"):
        cusum_changepoints(df, key="key", threshold=0)


def test_seasonal_anomalies_flags_only_the_planted_spike(spark):
    """A +15 spike riding a strong seasonal must be the ONLY flagged
    point: the score is judged on the DESEASONALIZED residual, so the
    daily peak itself (which a raw z-score would flag) stays quiet, and
    NULL-trend edge rows can never flag."""
    import math

    from mortar_parquet_support_spark.operators.timeseries import (
        seasonal_anomalies,
    )

    P = 24
    season = [2 * math.sin(2 * math.pi * i / P) for i in range(P)]
    rows = []
    for t in range(6 * P):
        v = 50.0 + season[t % P] + ((-1) ** t) * 0.1
        if t == 70:
            v += 15.0
        rows.append(("k", t * 3600, v))
    df = spark.createDataFrame(rows, ["key", "ep", "value"]).select(
        "key", F.col("ep").cast("timestamp").alias("bucket"), "value"
    )
    out = {
        int(r.bucket.timestamp()) // 3600: r
        for r in seasonal_anomalies(
            df, ts="bucket", value="value", keys=["key"], period=P,
            step="1 hour",
        ).collect()
    }
    assert [t for t, r in out.items() if r.anomaly] == [70]
    assert out[70].score > 3.0
    assert all(
        r.score is None and not r.anomaly for r in out.values()
        if r.trend is None
    )  # edges: NULL score, never a flag

    with pytest.raises(ValueError, match="sigma"):
        seasonal_anomalies(df, keys=["key"], sigma=0)


def test_factored_norm_cosine_bit_equal_including_degenerates(spark):
    """r16: embedding_dedup / semantic_dedup / cosine_topk factor each
    vector's norm out of the pair expression (computed once per row).
    vector_norm shares cosine_similarity's fold order, so the factored
    try_divide(dot, na*nb) must stay BIT-equal to the inline formula —
    including the degenerate legs: a zero-norm vector yields NULL under
    both spellings (try_divide), never a divide-by-zero or a 0.0."""
    from pyspark.sql import functions as F

    from mortar_parquet_support_spark.functions import (
        cosine_similarity,
        dot_product,
        vector_norm,
    )

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [0.1, -0.2, 0.30000000000000004]),
        (3, [0.0, 0.0, 0.0]),          # zero norm -> NULL cosine
        (4, [1e-300, 1e-300, 1e-300]),  # denormal-adjacent norms
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a, b = df.alias("a"), df.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    inline = pairs.select(
        "a.id", "b.id",
        cosine_similarity(F.col("a.v"), F.col("b.v")).alias("c"),
    )
    an = df.select("id", "v", vector_norm(F.col("v")).alias("n"))
    a2, b2 = an.alias("a"), an.alias("b")
    factored = a2.join(b2, F.col("a.id") < F.col("b.id")).select(
        "a.id", "b.id",
        F.try_divide(
            dot_product(F.col("a.v"), F.col("b.v")),
            F.col("a.n") * F.col("b.n"),
        ).alias("c"),
    )
    import struct

    def canon(rows):
        return sorted(
            (r[0], r[1], None if r[2] is None else struct.pack(">d", r[2]).hex())
            for r in rows
        )

    assert canon(inline.collect()) == canon(factored.collect())
    # every pair touching id 3 (exact zero norm) or id 4 (1e-300 squares
    # UNDERFLOW to 0.0 inside the fold, so its norm is 0.0 too) is NULL
    # under BOTH spellings — 5 of the 6 pairs
    assert sum(1 for r in inline.collect() if r[2] is None) == 5


def test_lttb_zero_keys_downsamples_one_global_stream(spark):
    """keys=() means ONE global stream (the historical groupBy()
    semantics) — r16's per-partition grouping rewrite must keep it
    working: endpoints pinned, exactly n_out rows, input order by ts."""
    from mortar_parquet_support_spark.operators.timeseries import (
        lttb_downsample,
    )

    df = spark.range(0, 300).selectExpr(
        "id as t", "cast(id % 17 as double) as v"
    )
    out = lttb_downsample(df, ts="t", value="v", keys=(), n_out=10).collect()
    assert len(out) == 10
    ts = [r.t for r in out]
    assert ts[0] == 0 and ts[-1] == 299 and ts == sorted(ts)
