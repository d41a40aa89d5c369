"""Distributed BPE tokenizer training + encoding.

Driver north-star extension (BASELINE.json:6): text.bpe_token_count is a
regex ESTIMATE of encoded length; this module trains a real byte-pair
vocabulary on the corpus and encodes with it, closing the loop from
"count roughly" to "tokenize exactly with a corpus-fitted vocabulary".

The 100 TB shape — the classic Sennrich et al. split:

- The corpus collapses ONCE into the word-frequency table
  (text.unigram_counts: one shuffle, map-side combined). Everything
  after runs on that table, whose size is the VOCABULARY (~10-100M rows
  at web scale), not the corpus — this is what makes distributed BPE
  tractable, and why the training loop must stay a DataFrame program
  instead of a driver collect.
- Each merge iteration: count adjacent symbol pairs weighted by word
  frequency (in-row pair construction -> one small shuffle on the pair),
  pick the argmax pair on the driver (top-1 only — the merge DECISION is
  O(1) state, like IVF centroids), rewrite the symbol arrays in-row
  (left-to-right non-overlapping fold), and only words CONTAINING the
  pair are rewritten — the untouched majority passes through without
  recomputation. A localCheckpoint per iteration keeps the plan from
  growing with the merge count.
- Encoding ships the learned ranks in a pandas UDF closure (the
  tokenizer is a model — kilobytes) and runs the standard greedy
  lowest-rank merge loop per word, Arrow-batched.

Determinism: pair argmax ties break on (count desc, left asc, right asc);
training twice on the same corpus yields identical merge lists, and
encode(merges) segments exactly like sequential merge application
(pytest-pinned against a pure-python reference).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _chars(word: Column) -> Column:
    """Symbol array: the word's characters (no end-of-word marker — the
    whitespace pre-tokenization already bounds words). split on the empty
    pattern is one linear pass; a per-index substring walk would re-scan
    the UTF-8 bytes from position 0 for every character (O(len^2))."""
    return F.split(word, "")


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs; empty for 1-symbol
    words (sequence would count down — the dedup_lines footgun)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _merge_in_word(syms: Column, left: str, right: str) -> Column:
    """Replace every LEFT-TO-RIGHT non-overlapping (left, right) adjacency
    with the merged symbol — a single in-row fold: each symbol either
    fuses into the accumulator's tail or appends. 'aaaa' under (a,a)
    becomes [aa, aa], never [aa, a, a] or a re-merge of the fresh tail
    (the fused tail equals left+right, which only fuses again if THAT
    equals ``left`` — exactly sequential-application semantics)."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    num_merges: int = 50,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` byte-pair merges from the corpus (see module
    docstring for the scale shape). Stops early when the best remaining
    pair's weighted count drops below ``min_freq``. Returns the ordered
    merge list — the tokenizer model for :func:`bpe_encode` /
    :func:`bpe_token_count_exact`.

    On a real cluster set a session checkpoint dir: the per-iteration
    barrier then uses RELIABLE checkpoints (functions.materialize), so an
    executor loss mid-loop can't destroy the word table. Default local
    checkpoints are fine locally; their blocks free at GC."""
    from mortar_parquet_support_spark.functions import materialize
    from mortar_parquet_support_spark.operators.text import unigram_counts

    words = unigram_counts(df, text_col=text_col).select(
        F.col("freq"), _chars(F.col("token")).alias("syms")
    )
    # LAZY checkpoints throughout the loop on the localCheckpoint tier
    # (the reliable tier is always eager): each iteration's next action
    # is the top-pair job below, which materializes the pending
    # checkpoint as a side effect — one action per merge instead of two
    # (an eager barrier job + the top-pair job). The lineage cut is
    # unchanged (checkpoint marks the plan immediately); the rewrite
    # stage then reads the blocks the top-pair job just wrote. Safe here
    # because the top-pair aggregate consumes the frame exactly once —
    # no self-join legs can race the first materialization.
    words = materialize(words, eager=False)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            words.select("freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("p.l").asc(), F.col("p.r").asc())
            .head()
        )
        if top is None or top.c < min_freq:
            break
        left, right = top.p.l, top.p.r
        merges.append((left, right))
        has_pair = F.exists(
            _adjacent_pairs(F.col("syms")),
            lambda p: (p.l == F.lit(left)) & (p.r == F.lit(right)),
        )
        rewritten = (
            words.filter(has_pair)
            .withColumn("syms", _merge_in_word(F.col("syms"), left, right))
            .unionByName(words.filter(~has_pair))
            # the union carries BOTH branches' partitions — left
            # unchecked that doubles per iteration (2^merges tasks by the
            # end); coalesce (no shuffle) pins the width
            .coalesce(df.sparkSession.sparkContext.defaultParallelism)
        )
        # checkpoint per iteration: the plan would otherwise stack one
        # fold + union per merge and the final iterations would re-run
        # the whole history. Dropping the previous iteration's reference
        # lets its blocks free at GC (local tier) — reliable-checkpoint
        # files are cleaned with the session dir. Lazy on the local tier:
        # the NEXT iteration's top-pair job materializes it (see above);
        # when the loop exits first (early stop or the last merge), the
        # pending checkpoint is simply never paid — its frame is never
        # read again.
        words = materialize(rewritten, eager=False)
    return merges


def _encoder(merges: list[tuple[str, str]]):
    """word -> symbol list, classic greedy lowest-rank merging (GPT-2
    bpe()): repeatedly merge every occurrence of the best-ranked adjacent
    pair until none applies. Produces the same segmentation as applying
    the merge list sequentially."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) >= 2:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            left, right = merges[best]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    return encode_word


_WORDS = re.compile(r"\s+", re.ASCII)


def _token_counter(merges: list[tuple[str, str]]):
    """text -> encoded length under ``merges``: the sum of ``len(enc(w))``
    over the words :func:`bpe_encode` emits (same lower-casing, same
    ASCII-only ``\\s+`` split, empty words skipped), so it equals
    ``len(bpe_encode(text))`` without building the token list. NULL
    text counts 0."""
    enc = _encoder(merges)

    def count(text: "str | None") -> int:
        if text is None:
            return 0
        return sum(len(enc(w)) for w in _WORDS.split(text.lower()) if w)

    return count


def bpe_encode(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """array<string> of BPE tokens for a text column (NULL for NULL
    text): whitespace pre-tokenization matching training's
    ``split(lower(text), '\\s+')`` EXACTLY — Java's ``\\s`` is
    ASCII-only, so the Python split here uses ``re.ASCII`` (a bare
    ``str.split()`` would split on NBSP/U+2009 etc. and serve a different
    word stream than the vocabulary was trained on) — then per-word
    greedy merge-rank encoding. Arrow-batched pandas UDF — the ranks
    table is the closure-shipped model. To cost documents, use
    :func:`bpe_token_count_exact`, which returns counts, not arrays."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    enc = _encoder(merges)

    @pandas_udf(ArrayType(StringType()))
    def run(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in _WORDS.split(t.lower()):
                if w:
                    toks.extend(enc(w))
            out.append(toks)
        return pd.Series(out)

    return run(text)


def bpe_token_count_exact(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """Exact encoded length under the trained vocabulary (a ``long``;
    NULL for NULL text, like ``size(bpe_encode(text))``) — the precise
    counterpart of text.bpe_token_count's regex estimate. One pandas UDF
    over the counting kernel: token arrays never cross the Arrow
    boundary.

    Pushdown pitfall: a filter on this column (``n <= budget``) is
    pushed below the projection that computes it and re-runs the UDF
    there, so the Python worker encodes every document twice. To filter
    on the count, compute it behind an opaque node the filter cannot
    cross (``mapInArrow``, as pipelines.tokenize.tokenize_and_pack
    does) or materialize first."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    count = _token_counter(merges)

    @pandas_udf("long")
    def run(texts):
        return pd.Series(
            [None if t is None else count(t) for t in texts], dtype="Int64"
        )

    return run(text)
