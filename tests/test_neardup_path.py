"""The curate near-dup path (pipelines/curation.py -> operators/dedup.py
minhash_dedup / jaccard_pairs / connected_components /
resolve_duplicates): component labels against a pure-Python union-find
oracle, a job budget, equality of outputs with broadcast joins switched
off, and equality of the reliable-checkpoint tier with the
localCheckpoint tier."""

from __future__ import annotations

import random

import pytest

from mortar_parquet_support_spark.operators.dedup import (
    connected_components,
    jaccard_pairs,
    minhash_dedup,
    resolve_duplicates,
)
from mortar_parquet_support_spark.pipelines import curate
from tests.conftest import jobs_during


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


def _curate_reasons(docs, evals, **kw):
    audited = curate(
        docs, keep_languages=("en",), eval_df=evals, dedup="minhash",
        audit=True, **kw,
    )
    return {r.doc_id: r.drop_reason for r in audited.collect()}


@pytest.fixture
def local_checkpoint_tier(spark):
    """Run on the localCheckpoint tier, whatever checkpoint dir an earlier
    test left on the shared session; restore it afterwards."""
    jsc = spark.sparkContext._jsc.sc()
    old = spark.sparkContext.getCheckpointDir()
    jsc.setCheckpointDir(None)
    yield
    jsc.setCheckpointDir(old)


def test_curate_minhash_job_budget(spark, frames, local_checkpoint_tier):
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


def test_curate_reliable_checkpoint_tier_matches_local(
    spark, frames, local_checkpoint_tier, tmp_path
):
    docs, evals, expected = frames
    local = _curate_reasons(docs, evals)
    reliable = _curate_reasons(docs, evals, checkpoint_dir=str(tmp_path / "ckpt"))
    assert reliable == local == expected
    assert list((tmp_path / "ckpt").rglob("rdd-*")), "no reliable checkpoint written"
