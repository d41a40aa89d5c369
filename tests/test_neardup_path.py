"""The curate near-dup path (pipelines/curation.py -> operators/dedup.py
minhash_dedup / jaccard_pairs / connected_components /
resolve_duplicates): component labels against a pure-Python union-find
oracle, a job budget, and equality of outputs with broadcast joins
switched off. Also the barrier tier (functions.materialize): curate,
bpe_train, semantic_dedup and connected_components give equal outputs
on the localCheckpoint tier and on a reliable session checkpoint dir,
and the reliable tier is always eager."""

from __future__ import annotations

import random

import pytest

from mortar_parquet_support_spark.functions import materialize
from mortar_parquet_support_spark.operators.bpe import bpe_train
from mortar_parquet_support_spark.operators.dedup import (
    connected_components,
    jaccard_pairs,
    minhash_dedup,
    resolve_duplicates,
    semantic_dedup,
)
from mortar_parquet_support_spark.pipelines import curate
from tests.conftest import jobs_during, session_checkpoint_dir
from tests.test_bpe import CORPUS, _ref_train
from tests.test_operators import _planted_clusters


def _union_find_components(pairs):
    """{node: min node of its component} by union-find over the pairs."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


CHAIN = [(i, i + 1) for i in range(6)]  # 7 nodes, diameter 6
STAR = [(10, leaf) for leaf in range(11, 16)]  # hub is the minimum
CLIQUE = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
SELF_LOOP = [(30, 30)]
BOTH_ORDERS = [(41, 40), (40, 41), (40, 41)]
DISJOINT = [(50, 52), (52, 54), (53, 51)]
PAIR_SETS = {
    "chain": CHAIN,
    "star": STAR,
    "clique": CLIQUE,
    "self_loop": SELF_LOOP,
    "both_orders_duplicated": BOTH_ORDERS,
    "two_disjoint": DISJOINT,
}


def _components(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {r.id: r.cluster_id for r in connected_components(df, **kw).collect()}


@pytest.mark.parametrize("name", sorted(PAIR_SETS))
def test_connected_components_match_union_find(spark, name):
    pairs = PAIR_SETS[name]
    assert _components(spark, pairs) == _union_find_components(pairs)


def test_connected_components_one_hop_components_converge_in_one_round(spark):
    """Labels start at min(node, neighbours): a star around its minimum
    and a clique are labelled before the first round, which then only
    confirms the fixpoint."""
    for pairs in (STAR, CLIQUE, STAR + CLIQUE):
        got = _components(spark, pairs, max_iterations=1)
        assert got == _union_find_components(pairs)


def _corpus(seed: int = 5, n_orig: int = 40):
    """(docs, eval_docs, expected drop_reason per doc_id): English
    originals far apart, German docs, docs embedding a 6-word run of an
    eval text, and near copies (last word changed) of originals."""
    rng = random.Random(seed)
    letters = "bcdfghklmnprstvz"
    vocab = ["".join(rng.choice(letters) for _ in range(6)) for _ in range(900)]
    eval_vocab = ["q" + "".join(rng.choice(letters) for _ in range(5)) for _ in range(60)]
    en = ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"]
    de = ["der", "die", "und", "nicht", "das", "ist", "mit", "sich", "auf", "ein"]

    def body(markers):
        return " ".join(
            rng.choice(markers) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(rng.randint(40, 60))
        )

    docs = [(i, body(en)) for i in range(n_orig)]
    expected = dict.fromkeys(range(n_orig))
    evals = [" ".join(rng.choice(eval_vocab) for _ in range(20)) for _ in range(3)]
    for _ in range(4):
        docs.append((len(docs), body(de)))
        expected[docs[-1][0]] = "language"
    for _ in range(4):
        ev = rng.choice(evals).split()
        at = rng.randrange(0, len(ev) - 6)
        words = body(en).split()
        docs.append((len(docs), " ".join(words[:5] + ev[at : at + 6] + words[5:])))
        expected[docs[-1][0]] = "contaminated"
    for _ in range(8):
        words = docs[rng.randrange(n_orig)][1].split()
        words[-1] = rng.choice(vocab)
        docs.append((len(docs), " ".join(words)))
        expected[docs[-1][0]] = "near_duplicate"
    return docs, [(i, t) for i, t in enumerate(evals)], expected


@pytest.fixture(scope="module")
def frames(spark):
    docs, evals, expected = _corpus()
    return (
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(evals, "eval_id long, text string"),
        expected,
    )


def _curate_reasons(docs, evals):
    audited = curate(
        docs, keep_languages=("en",), eval_df=evals, dedup="minhash",
        audit=True,
    )
    return {r.doc_id: r.drop_reason for r in audited.collect()}


def test_curate_minhash_job_budget(spark, frames):
    """Job budget of the near-dup path: one labelled-frame barrier in
    curate, no count-then-broadcast guard, and a component search that
    converges in one round on this corpus, labelled by one left join
    of the drop set."""
    docs, evals, expected = frames
    got = {}
    assert jobs_during(
        spark, lambda: got.update(_curate_reasons(docs, evals))
    ) == 30
    assert got == expected
    n = []
    assert jobs_during(
        spark,
        lambda: n.append(
            minhash_dedup(docs, id_col="doc_id", text_col="text").count()
        ),
    ) == 12
    assert n == [8]


@pytest.fixture
def no_broadcast(spark):
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _pair_outputs(spark, docs):
    """Sorted rows of jaccard_pairs over every pair that names a German,
    contaminated or near-copy doc, and of resolve_duplicates over the
    pairs it verifies."""
    cands = spark.createDataFrame(
        [(a, b) for b in range(40, 56) for a in range(b)], "id_a long, id_b long"
    )
    scored = sorted(
        tuple(r)
        for r in jaccard_pairs(docs, cands, id_col="doc_id", text_col="text").collect()
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b, j in scored if j >= 0.8], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in resolve_duplicates(docs, pairs, id_col="doc_id").collect())
    return scored, kept


def test_outputs_do_not_depend_on_broadcast_joins(spark, frames, request):
    docs, evals, expected = frames
    want = (_curate_reasons(docs, evals), _pair_outputs(spark, docs))
    request.getfixturevalue("no_broadcast")
    got = (_curate_reasons(docs, evals), _pair_outputs(spark, docs))
    assert got == want
    assert got[0] == expected


# Tier cases: (output on the current tier, expected output or None).
def _curate_case(spark, frames):
    docs, evals, expected = frames
    return _curate_reasons(docs, evals), expected


def _bpe_case(spark, frames):
    corpus = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    return bpe_train(corpus, num_merges=12, min_freq=2), _ref_train(CORPUS, 12)


def _semantic_case(spark, frames):
    pairs = semantic_dedup(
        _planted_clusters(spark), id_col="vec_id", vec_col="embedding",
        threshold=0.99, n_clusters=4, iters=2,
    )
    return {(r.id_a, r.id_b, r.cosine) for r in pairs.collect()}, None


def _components_case(spark, frames):
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog {i % 2}") for i in range(6)],
        ["doc_id", "text"],
    )
    pairs = minhash_dedup(docs, id_col="doc_id", text_col="text", threshold=0.9)
    comps = {(r.id, r.cluster_id) for r in connected_components(pairs).collect()}
    return comps, {(0, 0), (2, 0), (4, 0), (1, 1), (3, 1), (5, 1)}


TIER_CASES = {
    "curate_minhash": _curate_case,
    "bpe_train": _bpe_case,
    "semantic_dedup": _semantic_case,
    "connected_components": _components_case,
}


@pytest.mark.parametrize("case", sorted(TIER_CASES))
def test_outputs_equal_on_both_checkpoint_tiers(spark, frames, tmp_path, case):
    """The barrier tier is session state and no operator changes it: the
    localCheckpoint tier and a reliable session dir give equal outputs,
    and the reliable run writes checkpoint files under that dir."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local, want = TIER_CASES[case](spark, frames)
    assert sc.getCheckpointDir() is None
    ckpt = tmp_path / "ckpt"
    with session_checkpoint_dir(spark, ckpt):
        session_dir = sc.getCheckpointDir()
        reliable, _ = TIER_CASES[case](spark, frames)
        assert sc.getCheckpointDir() == session_dir
    assert sc.getCheckpointDir() is None
    assert reliable == local
    assert local
    if want is not None:
        assert local == want
    assert list(ckpt.rglob("rdd-*")), "no reliable checkpoint written"


def test_reliable_tier_is_eager(spark, tmp_path):
    """With a session dir, materialize(eager=False) has written its
    checkpoint before any action runs on the returned frame: a lazy
    reliable checkpoint would be written by a second job that re-runs
    the lineage."""
    ckpt = tmp_path / "ckpt"
    with session_checkpoint_dir(spark, ckpt):
        out = materialize(spark.range(10), eager=False)
        assert list(ckpt.rglob("rdd-*")), "reliable checkpoint deferred"
        assert out.count() == 10
