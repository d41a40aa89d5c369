"""Tokenize-and-pack: the last mile of a training-data pipeline — turn a
curated corpus into fixed-budget training sequences under a REAL trained
vocabulary, end to end on the engine:

1. train BPE merges on the corpus word-frequency table
   (operators/bpe.bpe_train — the loop never touches raw text twice),
2. cost every document in ONE Python pass: a ``mapInArrow`` over
   (id, text) returns each document's EXACT encoded length under the
   learned merges (closure-shipped ranks model) — counts, never token
   arrays, cross the Arrow boundary,
3. pack documents into fixed-budget bins (operators/curation.
   pack_sequences — sharded running sums, no global window).

The output is the batch manifest a data loader consumes: which documents
constitute each (shard, bin) context-window fill, with exact token
counts. Composes three already-verified operators; this module only owns
the glue and its contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize_and_pack(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_merges: int = 32,
    budget: int = 512,
    shards: int = 16,
    merges: "list[tuple[str, str]] | None" = None,
) -> DataFrame:
    """Corpus -> packed-training-batch manifest: (``id_col``,
    ``n_tokens``, ``shard``, ``bin``). Pass ``merges`` to reuse an
    already-trained vocabulary (the serving path: train once, pack every
    new crawl with the same tokenizer); otherwise ``vocab_merges`` BPE
    merges are trained on ``df`` itself. Documents whose exact encoded
    length exceeds ``budget`` are dropped with the same loud contract
    pack_sequences applies (an over-budget row can never fit any bin);
    empty/NULL docs cost 0 tokens and pack normally.

    Costing is one ``mapInArrow`` over ``(id_col, text_col)`` that
    returns ``(id_col, n_tokens)``, the id type passing through
    unchanged. The budget filter and the packing window sit above that
    opaque node, so the plan holds exactly one Python evaluation and
    each document is encoded once (a filter on a Python-UDF column
    would be pushed below its projection and re-run the UDF)."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from mortar_parquet_support_spark.operators.bpe import (
        _token_counter,
        bpe_train,
    )
    from mortar_parquet_support_spark.operators.curation import pack_sequences

    if merges is None:
        merges = bpe_train(
            df, text_col=text_col, num_merges=vocab_merges
        )
    count = _token_counter(merges)

    def cost(batches):
        for b in batches:
            n = pa.array([count(t) for t in b.column(1).to_pylist()], pa.int64())
            yield pa.RecordBatch.from_arrays(
                [b.column(0), n], names=[id_col, "n_tokens"]
            )

    costed = df.select(id_col, text_col).mapInArrow(
        cost,
        StructType(
            [df.schema[id_col], StructField("n_tokens", LongType(), False)]
        ),
    )
    packed = pack_sequences(
        costed.filter(F.col("n_tokens") <= budget),
        id_col=id_col,
        cost_col="n_tokens",
        budget=budget,
        shards=shards,
    )
    return packed.select(id_col, "n_tokens", "shard", "bin")
