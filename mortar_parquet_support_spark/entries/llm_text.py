"""Text-analysis and multimodal entries: tokenization metrics,
language-ID, quality scoring, n-gram language models, BPE, packing,
classifier train/serve, multimodal decode/resize plumbing, and the
end-to-end curation pipeline.

Split out of ``entries/llm.py`` (round 11; llm.py itself was split out
of ``__spark_entry__.py`` in round 9). Entry bodies are unchanged —
see ``_registry`` for ``_register`` / ``_t`` / the index builders, and
``__spark_entry__`` for the driver contract surface (the 50-name
_WINDOW pin makes this refactor invisible to the driver).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from mortar_parquet_support_spark.plans.hints import maybe_broadcast

from ._registry import (
    _IVF_CACHE,
    _register,
    _t,
)


@_register("multimodal_features")
def _multimodal_features(spark, sf_dir):
    """Arrow-batched media feature extraction (operators/multimodal.py
    extract_features over mapInPandas): documents' text bytes stand in for
    media content with the deterministic 'fake' tier, so the
    schema/partitioning/batch plumbing runs for real on the fixture. REAL
    image decode exists too — decode_fn='image' decodes PNGs via the
    pure-stdlib codec in operators/imaging.py (pytest-verified pixel
    features) — but the synthetic documents aren't images. Python decode
    loop -> rows-only."""
    from mortar_parquet_support_spark.operators.multimodal import extract_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("text").alias("modality"),
            F.lit("txt").alias("format"),
            F.length("text").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )
    out = extract_features(media, n_features=8)
    return out.select(
        "media_id", "modality", "n_bytes", F.round(F.element_at("features", 1), 6).alias("f0")
    )


@_register("multimodal_resize")
def _multimodal_resize(spark, sf_dir):
    """REAL image resize through the Arrow-batched resize_images operator
    (operators/multimodal.py): deterministic 8x8 grayscale PNGs are
    synthesized from doc ids (stdlib encoder, operators/imaging.py),
    resized to 4x4 with vectorized nearest-neighbor resampling, and
    re-encoded. Output is the decoded-deterministic md5 of the resized PNG
    bytes plus updated meta dims. Binary pipeline -> rows-only."""
    import hashlib

    from mortar_parquet_support_spark.operators.imaging import encode_png
    from mortar_parquet_support_spark.operators.multimodal import (
        MEDIA_SCHEMA, resize_images,
    )

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").orderBy("doc_id").limit(24).collect()
    ]
    rows = []
    for i in ids:
        digest = hashlib.md5(str(i).encode()).digest()
        pixels = (digest * 4)[:64]  # 8x8 grayscale
        png = encode_png(pixels, 8, 8, 1, filter_type=i % 5)
        rows.append(
            (str(i), bytearray(png), ("image", "png", len(png), 8, 8, None))
        )
    from mortar_parquet_support_spark.functions import tiny_frame

    media = tiny_frame(spark, rows, MEDIA_SCHEMA)
    out = resize_images(media, width=4, height=4)
    return out.select(
        "media_id",
        F.col("meta.width").alias("w"),
        F.col("meta.height").alias("h"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("content").alias("png_md5"),
    ).orderBy("media_id")


def _smooth_field_image(seed: int, h: int = 48, w: int = 64):
    """Photo-like fixture image: bilinear upsample of a seeded 6x8 coarse
    random grid — rich signal in EVERY low-frequency DCT coefficient, the
    regime pHash is built for (a sinusoid fixture concentrates energy in
    a few frequencies and leaves the rest hovering at the hash's median,
    where noise flips bits). The ONE shared generator for the image_dedup
    entry and tests/test_image_dedup.py, so the pytest pin covers the
    entry's actual fixture recipe (review r12)."""
    import numpy as np

    rng = np.random.default_rng(1000 + seed)
    coarse = rng.uniform(0, 255, (6, 8))
    ys, xs = np.linspace(0, 5, h), np.linspace(0, 7, w)
    y0 = np.floor(ys).astype(int).clip(0, 4)
    x0 = np.floor(xs).astype(int).clip(0, 6)
    fy, fx = (ys - y0)[:, None], (xs - x0)[None, :]
    out = (
        coarse[y0][:, x0] * (1 - fy) * (1 - fx)
        + coarse[y0][:, x0 + 1] * (1 - fy) * fx
        + coarse[y0 + 1][:, x0] * fy * (1 - fx)
        + coarse[y0 + 1][:, x0 + 1] * fy * fx
    )
    return np.clip(out, 0, 255).astype(np.uint8)


def _perturb_image(img, seed: int):
    """Planted near-duplicate recipe shared with the test: a local edit
    (a +12 patch) plus mild global noise — lands within a few pHash bits
    of the source, the regime image_dedup must catch."""
    import numpy as np

    out = img.astype(int)
    out[5:9, 5:9] += 12
    out += np.random.default_rng(seed).integers(-3, 4, out.shape)
    return np.clip(out, 0, 255).astype(np.uint8)


@_register("image_dedup")
def _image_dedup(spark, sf_dir):
    """Perceptual image dedup (r12 — operators/multimodal.py image_dedup):
    pHash fingerprints (stdlib PNG decode -> luma -> 32x32 box-mean ->
    DCT-II -> median-thresholded low-frequency block) -> hamming-band LSH
    candidates (the SAME fingerprint_band_pairs banding as the simhash
    text leg) -> exact JVM-side Hamming verify. The fixture synthesizes
    photo-like smooth random-field PNGs from the corpus' doc ids (~one
    per 140 documents, floor 36 so the driver-SF fixtures keep their r12
    shape) and plants a perturbed near-duplicate for ids divisible by 3;
    recall over the plants and zero false positives are pytest-pinned
    (tests/test_image_dedup.py). Synthesis runs in mapInPandas — r13:
    the old driver-side loop capped the corpus at 36 images, which made
    the 100x spot decade unmeasurable; id-derived seeds keep every image
    byte-identical regardless of partitioning. Rows-only: xxhash64
    banding + Python decode, the dedup_simhash rationale."""
    from mortar_parquet_support_spark.operators.multimodal import image_dedup

    import os as _os

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n_images = max(36, docs.count() // 140)
    # cpus-derived, not a constant: limit() collapses to one partition,
    # and at the bench's big SFs the synthesis is the entry's heavy leg —
    # an 8-way cap would measure fixture generation, not the operator
    # (review r13)
    parts = max(8, int(_os.environ.get("SPARK_GRAFT_CPUS", _os.cpu_count() or 8)))
    ids = docs.orderBy("doc_id").limit(n_images).repartition(parts)

    def _synth(batches):
        import pandas as pd

        from mortar_parquet_support_spark.operators.imaging import encode_png

        h, w = 48, 64
        for pdf in batches:
            mids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                img = _smooth_field_image(i, h, w)
                mids.append(f"img{i}")
                blobs.append(encode_png(img.tobytes(), w, h, 1))
                if i % 3 == 0:  # planted perceptual near-duplicate
                    pert = _perturb_image(img, i)
                    mids.append(f"img{i}_copy")
                    blobs.append(encode_png(pert.tobytes(), w, h, 1))
            yield pd.DataFrame({"media_id": mids, "content": blobs})

    media = ids.mapInPandas(_synth, "media_id string, content binary")
    return image_dedup(media, max_distance=6).orderBy("media_id_a", "media_id_b")


@_register(
    "curation_pipeline",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), words AS (
      SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM corpus
    ), feats AS (
      SELECT doc_id, text,
        len(list_filter(w, x -> list_contains(['the','and','of','to','is','in','that','it','for','was'], x))) AS h_en,
        len(list_filter(w, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','sich'], x))) AS h_de,
        len(list_filter(w, x -> list_contains(['le','la','les','et','est','pas','des','une','dans','que'], x))) AS h_fr,
        len(list_filter(w, x -> list_contains(['el','la','los','y','es','en','que','por','con','para'], x))) AS h_es,
        length(text) AS n,
        CASE WHEN length(text) > 0
             THEN CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}_\\s]')) AS DOUBLE) / length(text)
             ELSE 0.0 END AS pr,
        CASE WHEN length(text) > 0
             THEN CAST(len(regexp_extract_all(text, '\\p{N}')) AS DOUBLE) / length(text)
             ELSE 0.0 END AS dr,
        CASE WHEN len(w) > 0
             THEN CAST(len(list_filter(w, x -> list_contains(
                    ['the','and','of','to','is','in','that','it','for','was',
                     'a','an','on','with','as','at','by','be'], x))) AS DOUBLE) / len(w)
             ELSE 0.0 END AS sw
      FROM words
    ), scored AS (
      SELECT doc_id, text,
        CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
             WHEN h_fr >= h_en AND h_fr >= h_de AND h_fr >= h_es THEN 'fr'
             WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
             WHEN h_en >= h_de THEN 'en'
             ELSE 'de' END AS lang,
        (CASE WHEN n < 20 THEN n / 20.0 WHEN n > 10000 THEN 0.5 ELSE 1.0 END) * 0.3
          + greatest(0.0, 1.0 - pr * 4) * 0.25
          + greatest(0.0, 1.0 - dr * 4) * 0.2
          + (CASE WHEN sw > 0.05 THEN 1.0 ELSE sw * 20 END) * 0.25 AS q
      FROM feats
    ), pre AS (
      SELECT doc_id, text,
        CASE WHEN lang <> 'en' THEN 'language'
             WHEN q < 0.8725 THEN 'low_quality' END AS r0
      FROM scored
    ), final AS (
      SELECT doc_id,
        COALESCE(r0, CASE WHEN doc_id <> MIN(CASE WHEN r0 IS NULL THEN doc_id END)
                            OVER (PARTITION BY md5(text))
                     THEN 'duplicate' END) AS drop_reason
      FROM pre
    )
    SELECT doc_id, drop_reason IS NULL AS kept, drop_reason FROM final
    """,
)
def _curation_pipeline(spark, sf_dir):
    """End-to-end audited curation recipe (pipelines/curation.py curate):
    language filter -> quality filter -> exact dedup scoped to surviving
    rows, every row labeled with the FIRST rejecting stage. Exact
    duplicates are planted (every 10th doc copied under doc_id+100000) so
    the dedup stage is non-vacuous on this fixture; the oracle restates
    the full stage cascade including the survivors-only MIN window. The
    0.8725 threshold sits in a ~2e-3 gap of the fixture's quality-score
    distribution at both sf0.01 and sf0.1 (no cross-engine float-edge
    risk)."""
    from mortar_parquet_support_spark.pipelines import curate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = curate(
        docs.unionByName(planted),
        keep_languages=("en",),
        min_quality=0.8725,
        dedup="exact",
        audit=True,
    )
    return out.select("doc_id", "kept", "drop_reason")


@_register(
    "text_metrics",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS n_bpe_tokens,
           CASE WHEN length(text) > 0
                THEN ROUND(CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}_\\s]')) AS DOUBLE) / length(text), 6)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN length(text) > 0
                THEN ROUND(CAST(len(regexp_extract_all(text, '\\p{N}')) AS DOUBLE) / length(text), 6)
                ELSE 0.0 END AS digit_ratio
    FROM documents
    """,
)
def _text_metrics(spark, sf_dir):
    """Token counting + ratio metrics (operators/text.py)."""
    from mortar_parquet_support_spark.operators import text as T_

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T_.whitespace_token_count(t).alias("n_tokens"),
        T_.bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(T_.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(T_.digit_ratio(t), 6).alias("digit_ratio"),
    )


@_register(
    "text_langid",
    """
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
    ), hits AS (
      SELECT doc_id,
        len(list_filter(w, x -> list_contains(['the','and','of','to','is','in','that','it','for','was'], x))) AS h_en,
        len(list_filter(w, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','sich'], x))) AS h_de,
        len(list_filter(w, x -> list_contains(['le','la','les','et','est','pas','des','une','dans','que'], x))) AS h_fr,
        len(list_filter(w, x -> list_contains(['el','la','los','y','es','en','que','por','con','para'], x))) AS h_es
      FROM words
    )
    -- tie policy mirrors Spark's array_max over (hits, code): max hits,
    -- then lexicographically LARGEST code -> check fr, es, en, de in order
    SELECT doc_id,
           CASE
             WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
             WHEN h_fr >= h_en AND h_fr >= h_de AND h_fr >= h_es THEN 'fr'
             WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
             WHEN h_en >= h_de THEN 'en'
             ELSE 'de'
           END AS lang_guess
    FROM hits
    """,
)
def _text_langid(spark, sf_dir):
    """Stopword-marker language ID (operators/text.py lang_id). Tie policy:
    max hits, later language code wins ties (array_max on (hits, code))."""
    from mortar_parquet_support_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


@_register(
    "text_quality",
    """
    WITH m AS (
      SELECT doc_id,
             length(text) AS n,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}_\\s]')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '\\p{N}')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS dr,
             CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0
                  THEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> list_contains(['the','and','of','to','is','in','that','it','for','was',
                                           'a','an','on','with','as','at','by','be'], x))) AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\\s+'))
                  ELSE 0.0 END AS sw
      FROM documents
    )
    SELECT doc_id,
           ROUND(
             (CASE WHEN n < 20 THEN n / 20.0 WHEN n > 10000 THEN 0.5 ELSE 1.0 END) * 0.3
             + greatest(0.0, 1.0 - pr * 4) * 0.25
             + greatest(0.0, 1.0 - dr * 4) * 0.2
             + (CASE WHEN sw > 0.05 THEN 1.0 ELSE sw * 20 END) * 0.25, 6) AS quality
    FROM m
    """,
)
def _text_quality(spark, sf_dir):
    """Composite quality heuristic (operators/text.py score_quality — the
    CSE form: each ratio bound once as an intermediate column, score as a
    second tiny projection); the oracle restates the documented fixed-weight
    formula. (least(1, sw*20) == CASE WHEN sw > 0.05 THEN 1 ELSE sw*20 END
    for sw >= 0, so values are unchanged.)"""
    from mortar_parquet_support_spark.operators.text import score_quality

    docs = _t(spark, sf_dir, "documents")
    return score_quality(docs).select("doc_id", "quality")


@_register(
    "unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ), toks2 AS (
      SELECT doc_id, token FROM toks WHERE token <> ''
    ), model AS (
      SELECT token, CAST(count(*) AS DOUBLE) AS freq FROM toks2 GROUP BY token
    ), total AS (
      SELECT CAST(sum(freq) AS DOUBLE) AS t FROM model
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(avg(ln(m.freq / total.t)), 6) AS avg_logprob
    FROM toks2 d JOIN model m USING (token) CROSS JOIN total
    GROUP BY d.doc_id
    """,
)
def _unigram_logprob(spark, sf_dir):
    """CCNet-style unigram-LM quality signal (operators/text.py
    unigram_logprob): the corpus trains a unigram model of itself (explode
    + count, vocabulary-sized), then every document is scored with the
    mean ln-probability of its tokens — the head/middle/tail bucketing
    signal for crawl curation. The model broadcast-joins onto the token
    stream, so the corpus is never shuffled by token."""
    from mortar_parquet_support_spark.operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs, id_col="doc_id", text_col="text")


@_register(
    "bigram_logprob",
    """
    WITH docs_arr AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> t <> '') AS arr
      FROM documents
    ), base AS (
      SELECT doc_id, arr FROM docs_arr WHERE len(arr) > 0
    ), uni AS (
      SELECT u.tok AS token, CAST(count(*) AS DOUBLE) AS freq
      FROM (SELECT unnest(arr) AS tok FROM base) u GROUP BY 1
    ), total AS (
      SELECT CAST(sum(freq) AS DOUBLE) AS t FROM uni
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(arr)),
                                   i -> arr[CAST(i AS INT)])) AS w1,
             unnest(list_transform(range(1, len(arr)),
                                   i -> arr[CAST(i AS INT) + 1])) AS w2
      FROM base WHERE len(arr) >= 2
    ), big AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS bfreq
      FROM pairs GROUP BY 1, 2
    ), ltot AS (
      SELECT w1, CAST(sum(bfreq) AS DOUBLE) AS lfreq FROM big GROUP BY 1
    ), first_lp AS (
      SELECT b.doc_id, ln(u.freq / total.t) AS lp
      FROM base b JOIN uni u ON u.token = b.arr[1] CROSS JOIN total
    ), pair_lp AS (
      SELECT p.doc_id, ln(g.bfreq / l.lfreq) AS lp
      FROM pairs p JOIN big g USING (w1, w2) JOIN ltot l USING (w1)
    ), all_lp AS (
      SELECT * FROM first_lp UNION ALL SELECT * FROM pair_lp
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(avg(lp), 6) AS avg_logprob
    FROM all_lp GROUP BY doc_id
    """,
)
def _bigram_logprob(spark, sf_dir):
    """Bigram-LM quality scoring with stupid backoff (operators/text.py
    bigram_logprob), self-scored — first token takes the unigram
    probability, each following token the conditional MLE
    cnt(w1,w2)/cnt_left(w1). Pairs are formed IN-ROW (one transform over
    the token array; the corpus is never shuffled to build context) and
    the models join via maybe_broadcast. Self-scoring exercises every
    seen-bigram path; the backoff legs are pytest-pinned with an external
    train_df."""
    from mortar_parquet_support_spark.operators.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs, id_col="doc_id", text_col="text")


@_register(
    "linear_classifier",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS a
      FROM documents
    ), grams AS (
      SELECT doc_id, unnest(a) AS g FROM toks
      UNION ALL
      SELECT doc_id,
             unnest([a[i+1] || ' ' || a[i+2] FOR i IN range(0, len(a)-1)]) AS g
      FROM toks WHERE len(a) >= 2
    ), ids AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS fid
      FROM grams
    ), w AS (
      SELECT i AS feature,
             (('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2001
              - 1000) / 1000.0 AS wt
      FROM range(4096) t(i)
    ), agg AS (
      SELECT ids.doc_id, sum(w.wt) AS z, count(*) AS nf
      FROM ids JOIN w ON ids.fid = w.feature GROUP BY 1
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(coalesce(a.nf, 0) AS BIGINT) AS n_features,
           ROUND(1.0 / (1.0 + exp(-coalesce(a.z / a.nf, 0.0))), 6) AS score
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def _linear_classifier(spark, sf_dir):
    """fastText-style hashed linear classifier inference (operators/text.py
    linear_classifier_score): score = sigmoid(mean weight of hashed word
    uni+bigrams), 4096 buckets. The weight table is synthesized
    deterministically from the bucket id via the same md5-hex-slice
    arithmetic both engines share, so the whole model — features, weights,
    pooling, sigmoid — is oracle-checkable bit-for-bit at 6 decimals."""
    from mortar_parquet_support_spark.operators.text import (
        linear_classifier_score,
    )

    n_buckets = 4096
    weights = spark.range(n_buckets).select(
        F.col("id").alias("feature"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
                ).cast("long")
                % 2001
                - 1000
            )
            / 1000.0
        ).alias("weight"),
    )
    # the fixture ships as ONE parquet file -> one scan task; spread the
    # hash/explode work across cores (a real corpus arrives pre-split, so
    # production callers skip this — the shuffle is the fixture's 1.5 MB
    # of text). Partitioning by doc_id also pre-aligns the per-doc agg.
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    out = linear_classifier_score(docs, weights, n_buckets=n_buckets)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_features").cast("long").alias("n_features"),
        F.round("score", 6).alias("score"),
    )


@_register("bpe_vocab")
def _bpe_vocab(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py bpe_train):
    12 merges learned from the documents corpus — the loop runs on the
    word-frequency table, never the corpus. No SQL oracle (iterative
    argmax-update isn't SQL-expressible); training == pure-python
    reference and encode == sequential merge application are
    pytest-pinned (tests/test_bpe.py). Memoized per session: the merge
    list is a model, like the IVF/PQ codebooks."""
    from mortar_parquet_support_spark.operators.bpe import bpe_train

    per_session = _IVF_CACHE.setdefault(spark, {})
    key = ("bpe", sf_dir)
    if key not in per_session:
        per_session[key] = bpe_train(
            _t(spark, sf_dir, "documents"), num_merges=12, min_freq=2
        )
    merges = per_session[key]
    from mortar_parquet_support_spark.functions import tiny_frame

    return tiny_frame(
        spark,
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )


@_register("train_classifier")
def _train_classifier(spark, sf_dir):
    """Distributed full-batch logistic training (operators/text.py
    train_linear_classifier — the TRAINING half of linear_classifier's
    serving shape, same tokenizer/grams/mean-pooled model): 4 GD
    iterations learning 'is this document English' from the lang column.
    Rows-only (iterative float training is not SQL-expressible); the
    update rule is pinned bit-for-bit against a numpy reference and the
    trainer->scorer round-trip reaches full separable-data accuracy in
    tests/test_classifier.py. Output: one row per learned feature with
    the weight rounded for display stability."""
    from mortar_parquet_support_spark.operators.text import (
        train_linear_classifier,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("y")
    )
    w, bias = train_linear_classifier(
        docs, label_col="y", id_col="doc_id", text_col="text",
        n_buckets=1 << 16, ngram=1, iters=4, lr=1.0,
    )
    return w.select(
        "feature", F.round("weight", 6).alias("weight"),
        F.round(F.lit(bias), 6).alias("bias"),
    )


@_register("tokenize_and_pack")
def _tokenize_and_pack(spark, sf_dir):
    """End-to-end tokenize-and-pack (pipelines/tokenize.py): BPE merges
    trained on the documents corpus, every doc costed at its EXACT token
    count under that vocabulary in one Arrow pass (counts, not token
    arrays), then packed into 512-token bins (sharded running sums). Rows-only (the trained merges are a model;
    each composed stage is independently pinned — bpe train/encode vs a
    python reference, pack_sequences vs its DuckDB oracle); the
    composition contract (bin budgets respected, every in-budget doc
    packed exactly once) is pytest-pinned."""
    from mortar_parquet_support_spark.pipelines.tokenize import (
        tokenize_and_pack,
    )

    docs = _t(spark, sf_dir, "documents")
    return tokenize_and_pack(
        docs, vocab_merges=12, budget=512, shards=8
    )
