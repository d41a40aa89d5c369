"""End-to-end pretraining-corpus curation: the standard crawl-cleaning
recipe (RefinedWeb/Dolma-shaped) composed from this engine's operator
families into ONE audited pass:

    boilerplate strip -> language filter -> quality filter ->
    decontamination -> deduplication

Each stage is an operator that is individually oracle-checked or
pytest-pinned (operators/curation.py, operators/text.py,
operators/dedup.py); this module contributes the wiring: a single
``drop_reason`` precedence, dedup scoped to rows that survived the
earlier filters (so a spam page never becomes a dup-cluster
representative), and an audit mode that keeps every row labeled instead
of filtering — the form you persist when you need to answer "why did
document X disappear?" a month later.

Scale shape: the filter stages are zero-shuffle projections riding the
scan; exact/fingerprint dedup adds ONE window shuffle on the digest;
decontamination broadcasts the (small) eval shingle set; minhash dedup
runs the banded-LSH candidate pipeline on the surviving subset only.
Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mortar_parquet_support_spark.functions import materialize
from mortar_parquet_support_spark.operators.curation import (
    contaminated_ids,
    strip_boilerplate_lines,
)
from mortar_parquet_support_spark.operators.dedup import (
    connected_components,
    minhash_dedup,
)
from mortar_parquet_support_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score,
)


def curate(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    boilerplate_min_docs: int | None = None,
    keep_languages: tuple[str, ...] | list[str] | None = None,
    min_quality: float | None = None,
    eval_df: DataFrame | None = None,
    eval_text_col: str = "text",
    contamination_ngram_words: int = 3,
    dedup: str | None = "exact",
    minhash_threshold: float = 0.8,
    seed: int = 42,
    audit: bool = False,
) -> DataFrame:
    """Run the curation recipe over ``df``; every stage is optional.

    Returns the surviving corpus (all input columns, text possibly
    rewritten by the boilerplate stage). With ``audit=True`` no row is
    removed: the output carries ``kept`` (boolean) and ``drop_reason``
    (NULL | 'language' | 'low_quality' | 'contaminated' | 'duplicate' |
    'near_duplicate'), labeling each row with the FIRST stage that
    rejected it, in the order above.

    Stage semantics:

    - ``boilerplate_min_docs``: lines repeating in that many distinct
      documents are stripped corpus-wide BEFORE any scoring, so a page
      that is pure navigation chrome evaluates (and usually fails) on its
      real residual content. Rewrites ``text_col`` in place.
    - ``keep_languages``: :func:`lang_id` result must be in the set.
      NULL text ranks 'und' (empty-text convention), so NULL/blank rows
      fall out here when a language set is given.
    - ``min_quality``: :func:`quality_score` threshold in [0, 1].
    - ``eval_df``: word-``contamination_ngram_words``-gram collision
      against the eval set (:func:`contaminated_ids`) — runs BEFORE
      dedup so a contaminated representative can't shield near-identical
      copies from the label.
    - ``dedup``: 'exact' (byte-identical text), 'fingerprint'
      (casefold/punct-normalized text — catches trivially-reformatted
      copies), 'minhash' (banded-LSH near-dup pairs + connected
      components, threshold = ``minhash_threshold``), or None. Duplicate
      groups keep their smallest-id member among rows that survived every
      earlier stage; dropped copies are labeled 'duplicate' /
      'near_duplicate'.
    """
    if dedup not in (None, "exact", "fingerprint", "minhash"):
        raise ValueError(f"unknown dedup mode {dedup!r}")
    if isinstance(keep_languages, str):
        # list('en') == ['e', 'n'] — lang_id codes never match single
        # characters, so a bare string would silently drop EVERY document
        raise ValueError(
            "keep_languages must be a sequence of language codes, not a "
            f"bare string ({keep_languages!r}); pass [{keep_languages!r}]"
        )

    # every stage keys on id_col (boilerplate re-join, dedup keep-slots,
    # contamination labels): a NULL id silently falls out of equi-joins
    # and can never be labeled 'duplicate' (NULL != x is NULL), which in
    # audit mode means the row vanishes without a drop_reason — the exact
    # failure this mode exists to prevent. Fail the job loudly instead
    # (the pack_sequences NULL-cost guard precedent).
    out = df.withColumn(
        id_col,
        F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
            F.raise_error(
                F.lit(f"curate: NULL {id_col} cannot be curated — every "
                      "stage joins/labels on it")
            )
        ),
    )
    if boilerplate_min_docs is not None:
        stripped = strip_boilerplate_lines(
            out, id_col=id_col, text_col=text_col, min_docs=boilerplate_min_docs
        )
        out = out.drop(text_col).join(stripped, id_col)

    text = F.coalesce(F.col(text_col), F.lit(""))
    reason = F.lit(None).cast("string")
    if keep_languages is not None:
        reason = F.when(
            ~lang_id(text).isin(list(keep_languages)), F.lit("language")
        )
    if min_quality is not None:
        reason = F.coalesce(
            reason,
            F.when(quality_score(text) < F.lit(min_quality), F.lit("low_quality")),
        )
    cur = out.withColumn("__reason", reason)

    if eval_df is not None:
        # the contaminated id list has this one consumer and no join
        # hint: it is a shuffle output, so AQE broadcasts it from its
        # actual size while it fits and keeps a shuffle join when not
        bad = contaminated_ids(
            cur.filter(F.col("__reason").isNull()),
            eval_df,
            id_col=id_col,
            text_col=text_col,
            eval_text_col=eval_text_col,
            ngram_words=contamination_ngram_words,
        ).withColumn("__contaminated", F.lit(True))
        cur = cur.join(bad, id_col, "left").withColumn(
            "__reason",
            F.coalesce(
                F.col("__reason"),
                F.when(F.col("__contaminated"), F.lit("contaminated")),
            ),
        ).drop("__contaminated")

    if dedup in ("exact", "fingerprint"):
        # hash the RAW text column, with NULL coalesced to a sentinel no
        # real value produces — `text` coalesces to '' for the scoring
        # stages, but a digest over it would conflate a NULL-text doc
        # with a genuinely-empty one, violating the byte-identical
        # contract (the exact_dedup NULL-vs-empty convention)
        null_sentinel = F.lit("\x00<NULL>")
        digest = (
            F.coalesce(fingerprint(F.col(text_col)), F.md5(null_sentinel))
            if dedup == "fingerprint"
            else F.md5(F.coalesce(F.col(text_col), null_sentinel))
        )
        # ONE shuffle: min surviving id per digest via window, no join.
        # Rows already rejected never anchor a cluster (the when() guard),
        # so a filtered-out copy can't "use up" the keep slot.
        w = Window.partitionBy(digest)
        keep_id = F.min(
            F.when(F.col("__reason").isNull(), F.col(id_col))
        ).over(w)
        cur = cur.withColumn(
            "__reason",
            F.coalesce(
                F.col("__reason"),
                F.when(F.col(id_col) != keep_id, F.lit("duplicate")),
            ),
        )
    elif dedup == "minhash":
        # the ONE barrier of this branch: the labelled frame feeds the LSH
        # signature build, the jaccard shingle fan-out and the final
        # label join, and each would otherwise replay the scan,
        # boilerplate shuffles, scoring regexes and contamination join
        # from scratch
        cur = materialize(cur)
        survivors = cur.filter(F.col("__reason").isNull())
        pairs = minhash_dedup(
            survivors,
            id_col=id_col,
            text_col=text_col,
            threshold=minhash_threshold,
            seed=seed,
        )
        # every non-representative cluster member is a survivor (pairs
        # come from survivors, ids are unique), so ONE left join of the
        # drop set labels them — no anti-join of survivors first
        drop = (
            connected_components(pairs)
            .filter(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias(id_col), F.lit(True).alias("__near_dup"))
        )
        cur = cur.join(drop, id_col, "left").withColumn(
            "__reason",
            F.coalesce(
                F.col("__reason"),
                F.when(F.col("__near_dup"), F.lit("near_duplicate")),
            ),
        ).drop("__near_dup")

    audited = cur.withColumn(
        "kept", F.col("__reason").isNull()
    ).withColumnRenamed("__reason", "drop_reason")
    if audit:
        return audited
    return audited.filter(F.col("kept")).drop("kept", "drop_reason")
