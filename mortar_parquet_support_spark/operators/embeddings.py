"""Embedding-matrix operators: distributed PCA (fit/transform) + helpers.

Driver north-star extension (BASELINE.json:6): dimensionality reduction is
the standard stage between raw embeddings and the ANN/dedup operators
(similarity.py, dedup.py, pq.py) — project 768-d model outputs to the
32-64 dims the indexes actually want, whiten for cosine stability, then
index. The reference has no vector layer at all (SURVEY.md §2.6).

The 100 TB shape of PCA is the classic two-phase split:

- **fit** is ONE corpus scan: each partition's Arrow batches fold into a
  single (count, sum, X^T X) partial in BLAS (d x d doubles — for d=1024
  that is 8 MB per partition row, emitted ONCE per partition), and the
  partials tree-reduce through Spark's own map-side partial aggregation
  (posexplode to (position, value) -> groupBy position: the shuffle
  carries d^2+d+1 rows per PARTITION, combined again on the reduce side).
  The d x d Gram matrix eigendecomposes driver-side in numpy — it is a
  model, not data (same judgment as IvfIndex centroids / PqIndex
  codebooks).
- **transform** is a zero-shuffle Arrow-batched projection: the (k x d)
  component matrix ships in the UDF closure, each batch is one
  (X - mean) @ W.T matmul.

Determinism: eigendecomposition of the exactly-summed covariance (float64
adds are order-sensitive only below ~1e-12 relative for these scales;
components are sign-normalized so the largest-|loading| element is
positive), so refits on the same data agree to numerical noise.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Dimensionality from the first non-null vector. Order-dependent by
    nature — a corrupt short vector arriving first would redefine
    validity for the whole fit — so pca_fit accepts an explicit ``d``
    for corpora that can contain ragged rows."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .head()
    )
    if row is None:
        raise ValueError(f"no non-null vectors in {vec_col!r}")
    return int(row.d)


@dataclass(frozen=True)
class PcaModel:
    """Fitted PCA: ``mean`` (d), ``components`` (k x d, rows = principal
    axes, orthonormal), ``explained_variance`` (k, descending; ddof=1
    convention, matching np.cov)."""

    mean: tuple
    components: tuple  # tuple of k tuples, each length d
    explained_variance: tuple

    @property
    def d(self) -> int:
        return len(self.mean)

    @property
    def k(self) -> int:
        return len(self.components)

    def save(self, spark, path: str) -> None:
        """One-row parquet (any Hadoop FS the session can write — same
        portability judgment as DigestIndex meta)."""
        flat = [float(v) for row in self.components for v in row]
        from mortar_parquet_support_spark.functions import tiny_frame

        tiny_frame(
            spark,
            [(list(self.mean), flat, list(self.explained_variance), self.k)],
            "mean array<double>, components_flat array<double>, "
            "explained_variance array<double>, k int",
        ).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark, path: str) -> "PcaModel":
        r = spark.read.parquet(path).head()
        d = len(r.mean)
        comps = tuple(
            tuple(r.components_flat[i * d : (i + 1) * d]) for i in range(r.k)
        )
        return cls(
            mean=tuple(r.mean),
            components=comps,
            explained_variance=tuple(r.explained_variance),
        )


def pca_fit(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 8,
    d: int | None = None,
) -> PcaModel:
    """Fit PCA over ``vec_col`` in one distributed pass (see module
    docstring for the partial/tree-reduce shape). Rows with NULL vectors,
    wrong-length vectors, or non-finite elements are excluded from the
    fit — the same degenerate-row contract as similarity.py. ``d``
    defaults to the first non-null vector's length; pass it explicitly
    when the corpus may contain ragged rows (see _vec_dim). Requires at
    least 2 valid rows (ddof=1)."""
    import numpy as np

    if d is None:
        d = _vec_dim(df, vec_col)
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")

    out_schema = T.StructType(
        [T.StructField("acc", T.ArrayType(T.DoubleType()), False)]
    )

    def partials(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        n = 0
        s = np.zeros(d, dtype=np.float64)
        g = np.zeros((d, d), dtype=np.float64)
        for batch in batches:
            col = batch.column(0)
            # vectorized validity filtering on the Arrow buffers — no
            # Python-object churn in the pass the module sells as BLAS:
            # drop null list slots FIRST (flatten would drop them
            # silently and shift the reshape — similarity.py's footnote),
            # then keep only length-d rows.
            if col.null_count:
                col = col.drop_null()
            if not len(col):
                continue
            col = col.filter(pc.equal(pc.list_value_length(col), d))
            if not len(col):
                continue
            flat = col.flatten()
            # element-level nulls surface as NaN and fall to the finite
            # mask with every other non-finite value
            x = (
                flat.to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(-1, d)
            )
            finite = np.isfinite(x).all(axis=1)
            x = x[finite]
            if not len(x):
                continue
            n += len(x)
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            acc = np.concatenate(([float(n)], s, g.ravel()))
            yield pa.RecordBatch.from_arrays(
                [pa.array([acc.tolist()], type=pa.list_(pa.float64()))],
                schema=pa.schema([("acc", pa.list_(pa.float64()))]),
            )

    summed = (
        df.select(F.col(vec_col))
        .mapInArrow(partials, out_schema)
        .select(F.posexplode("acc").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    acc = np.zeros(1 + d + d * d, dtype=np.float64)
    for r in summed:
        acc[r.pos] = r.v
    n = int(acc[0])
    if n < 2:
        raise ValueError(f"PCA needs >= 2 valid vectors, got {n}")
    mean = acc[1 : 1 + d] / n
    gram = acc[1 + d :].reshape(d, d)
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x d
    # sign convention: largest-|loading| element of each axis positive
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PcaModel(
        mean=tuple(float(v) for v in mean),
        components=tuple(tuple(float(v) for v in row) for row in comps),
        explained_variance=tuple(float(max(evals[o], 0.0)) for o in order),
    )


def pca_transform(
    df: DataFrame,
    model: PcaModel,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project ``vec_col`` onto the fitted axes: adds ``out_col`` =
    (x - mean) @ components.T as array<double> length k. Zero-shuffle
    Arrow-batched matmul; degenerate vectors (NULL, wrong length,
    non-finite elements) map to NULL, the row itself is kept.

    ``out_col`` is a pandas-UDF column: a filter on it (say
    ``pca IS NOT NULL``) is pushed below the projection and re-runs the
    UDF, evaluating every vector twice; materialize first when the
    output is filtered."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mean = np.asarray(model.mean, dtype=np.float64)
    w_t = np.asarray(model.components, dtype=np.float64).T  # d x k
    d = model.d

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(vs):
        res = [None] * len(vs)
        idx, rows = [], []
        for i, v in enumerate(vs):
            if v is None or len(v) != d:
                continue
            a = np.asarray(v, dtype=np.float64)
            if not np.isfinite(a).all():
                continue
            idx.append(i)
            rows.append(a)
        if rows:
            y = (np.stack(rows) - mean) @ w_t
            for i, out in zip(idx, y):
                res[i] = out.tolist()
        return pd.Series(res)

    return df.withColumn(out_col, proj(F.col(vec_col)))


def hashed_embedding(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    ngram: int = 2,
    normalize: bool = True,
    out_col: str = "embedding",
) -> DataFrame:
    """Model-free text embedding by signed feature hashing: each word
    uni..n-gram adds ±1 (sign from an independent hash) at position
    h(g) % dim; optionally L2-normalized. The classic cheap embedder —
    it preserves enough lexical cosine structure to drive the vector
    stack (pca_fit, cosine_topk, semantic_dedup) on corpora that have no
    model embeddings, and the hash arithmetic is the engine-portable
    md5 recipe, so every coordinate is reproducible in DuckDB.

    Returns (id_col, n_grams, out_col array<double> length ``dim``);
    documents with no tokens embed as the zero vector (whose normalized
    form is an all-NULL array — no direction, same try_divide contract
    as l2_normalize). Wire cost: grams combine map-side on
    (id, position), so at most ``dim`` entries per document ever cross a
    shuffle; the per-doc assembly and the join back onto the id set are
    further id-keyed exchanges of those same narrow rows (pre-partition
    the input by ``id_col`` — as the driver entry does — and they all
    collapse into the one partitioning). The dense array assembles
    in-row from the position map. Sign trick per Weinberger et al.:
    E[<x,y>] is unbiased under collisions."""
    from mortar_parquet_support_spark.operators.dedup import md5_int
    from mortar_parquet_support_spark.operators.text import (
        gram_strings,
        staged_tokens,
    )

    grams = staged_tokens(df, id_col=id_col, text_col=text_col).select(
        F.col(id_col),
        F.explode(
            # one gram stream, two derived hashes: position and sign come
            # from independent salts of the same gram (gram strings never
            # leave the row — the very next projection reduces them to
            # two longs)
            gram_strings(F.col("__toks"), ngram=ngram)
        ).alias("__g"),
    )
    sgn = md5_int(F.col("__g"), salt="sign:") % 2 * 2 - 1
    contrib = grams.select(
        F.col(id_col),
        (md5_int(F.col("__g"), bits=32) % dim).alias("__pos"),
        sgn.cast("double").alias("__sgn"),
    )
    agg = contrib.groupBy(id_col, "__pos").agg(
        F.sum("__sgn").alias("__v"), F.count(F.lit(1)).alias("__c")
    )
    per_doc = agg.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__pos"), F.col("__v")))
        ).alias("__m"),
        F.sum("__c").alias("n_grams"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda p: F.coalesce(
            F.element_at(F.col("__m"), p.cast("long")), F.lit(0.0)
        ),
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0)))
        .withColumn(out_col, F.when(F.col("__m").isNotNull(), vec).otherwise(
            F.array_repeat(F.lit(0.0), dim)
        ))
        .drop("__m")
    )
    if normalize:
        out = out.withColumn(out_col, l2_normalize(F.col(out_col)))
    return out


def l2_normalize(vec, *, eps: float = 0.0):
    """Unit-normalize an array column JVM-side: v / ||v||; zero/degenerate
    norms yield NULL (try_divide), matching the cosine contract. In-row,
    composes with any scan.

    The O(d) norm fold is bound ONCE per row through an outer transform
    over a one-element array: Spark does not hoist loop-invariant
    subexpressions out of higher-order-function lambdas, so embedding the
    fold directly in the per-element divide would cost O(d^2) per row
    (the same multi-reference footgun staged_columns exists for).  A
    lambda variable is a materialized value, so the inner divide reads
    the precomputed scalar."""
    from mortar_parquet_support_spark.functions import vector_norm

    v = F.col(vec) if isinstance(vec, str) else vec
    n = vector_norm(v)
    return F.transform(
        F.array(n + F.lit(eps)),
        lambda nn: F.transform(v, lambda x: F.try_divide(x, nn)),
    ).getItem(0)


#: bound on inlining a centroid table into the plan as a literal array —
#: k * dim double literals serialize into every task closure, so the cap is
#: deliberately tighter than IvfIndex.MAX_DRIVER_CELLS (collected rows).
_MAX_PLAN_CELLS = 1 << 16


def kmeans_centroids(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Public k-means fit: (cluster_id, centroid) rows — the same
    deterministic seeded-Lloyd machinery the IVF index trains with
    (similarity.ivf_centroids: xxhash-seeded start, one Arrow-batched
    corpus scan per iteration, driver- or distributed-reduce chosen by
    size), exposed as a standalone model for topic bucketing, mixture
    analysis, and cluster-balanced sampling.

    This is SPHERICAL k-means: Lloyd assignment is by cosine (direction),
    the convention for text/embedding clustering — clusters separate by
    angle, not magnitude. L2-normalize inputs first (:func:`l2_normalize`)
    if magnitudes vary meaninglessly; use :func:`kmeans_assign` with
    ``metric='l2'`` when euclidean semantics are required downstream."""
    from mortar_parquet_support_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(
        df, id_col=id_col, vec_col=vec_col, n_list=k, iters=iters, seed=seed
    )
    return cents.select(F.col("list_id").alias("cluster_id"), "centroid")


def kmeans_assign(
    df: DataFrame,
    centroids,
    *,
    vec_col: str = "embedding",
    metric: str = "cosine",
    cluster_col: str = "cluster_id",
    dist_col: str = "dist",
    round_to: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as a ZERO-SHUFFLE projection: the
    centroid table (a model, small-by-contract like PcaModel /
    IvfIndex.cent_rows) inlines into the plan as a literal array, and each
    row folds over it with ``F.aggregate`` keeping the running best
    (distance, cluster) — no crossJoin row blow-up, no groupBy argmin
    shuffle, whole-stage-codegen throughout. Assigning 100 TB of vectors
    is then exactly one map-side scan.

    ``centroids`` is a (cluster_id, centroid) DataFrame (from
    :func:`kmeans_centroids`) or an iterable of ``(cluster_id, vector)``
    rows. ``metric`` defaults to ``cosine`` (similarity, argmax) — the
    SAME metric :func:`kmeans_centroids` trains with, so the natural
    composition assigns with the geometry that formed the clusters;
    pass ``l2`` (squared euclidean, argmin) only when downstream
    semantics require it, knowing it can re-bucket magnitude outliers.
    Ties break to the SMALLEST cluster_id; ``round_to`` rounds each
    candidate distance before comparison, which pins the argmin across
    engines whose float folds differ in the last ulps (the oracle-parity
    knob — leave None for pure in-engine use). Degenerate rows — NULL
    vectors, NULL elements, dimension mismatches, zero norms under
    cosine — keep NULL cluster/distance rather than piling into the
    first cluster."""
    if metric not in ("l2", "cosine"):
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    if isinstance(centroids, DataFrame):
        pairs = [(r[0], r[1]) for r in centroids.collect()]
    else:
        pairs = list(centroids)
    if any(v is None for _, v in pairs):
        raise ValueError("centroid vectors must not be NULL")
    rows = [(int(c), list(v)) for c, v in pairs]
    if not rows:
        raise ValueError("empty centroid table")
    cells = sum(len(v) for _, v in rows)
    if cells > _MAX_PLAN_CELLS:
        raise ValueError(
            f"centroid table has {cells} cells > {_MAX_PLAN_CELLS}; a model "
            "this size should assign via a broadcast join (IvfIndex.build) "
            "rather than a plan literal"
        )
    rows.sort(key=lambda r: r[0])  # array order IS the tie-break order
    for _, v in rows:
        if any(x is None for x in v):
            raise ValueError("centroid vectors must not contain NULLs")

    from mortar_parquet_support_spark.functions import cosine_similarity

    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(c)).alias("c"),
                F.lit([float(x) for x in v]).cast("array<double>").alias("cv"),
            )
            for c, v in rows
        ]
    )
    v = F.col(vec_col).cast("array<double>")

    def _score(cv):
        if metric == "l2":
            return F.aggregate(
                F.zip_with(v, cv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        return cosine_similarity(v, cv)

    def _better(new, best):
        # l2: strictly smaller wins; cosine: strictly larger wins — either
        # way a tie keeps the incumbent, i.e. the lowest cluster_id.
        return new < best if metric == "l2" else new > best

    def _merge(acc, s):
        d = _score(s["cv"])
        if round_to is not None:
            d = F.round(d, round_to)
        # d.isNotNull() guard: degenerate rows — zero-norm vectors in
        # cosine mode (try_divide -> NULL), NULL elements, dimension
        # mismatches (zip_with pads with NULL) — must NOT be captured by
        # the first centroid; they fall through to a NULL assignment,
        # matching cosine_topk's directionless-row contract.
        take = d.isNotNull() & (acc["c"].isNull() | _better(d, acc["d"]))
        return F.when(
            take, F.struct(s["c"].alias("c"), d.alias("d"))
        ).otherwise(acc)

    zero = F.struct(
        F.lit(None).cast("int").alias("c"), F.lit(None).cast("double").alias("d")
    )
    best = F.aggregate(cent_arr, zero, _merge)
    return df.withColumn("__best", F.when(v.isNotNull(), best)).select(
        "*",
        F.col("__best.c").alias(cluster_col),
        F.col("__best.d").alias(dist_col),
    ).drop("__best")


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    *,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space drift between snapshots: the cosine between the
    two MEAN vectors plus both mean-vector norms — the cheap first-alarm
    for "did the upstream embedding model change / did the content
    distribution move in representation space" (a mean-cosine below
    ~0.99 on a stable feed is a loud signal; per-direction detail wants
    a PCA projection, the alarm does not). Returns ONE row:
    (``mean_cosine``, ``ref_norm``, ``cur_norm``, ``n_ref``, ``n_cur``).

    Each side's mean vector is computed per POSITION (posexplode +
    avg — distributed, no driver vector materialization) and ROUNDED
    (``round_to``) before the dot/norm arithmetic: float-sum order
    differs across engines and partitionings, and the round pins the
    report to engine-identical values (the remaining ops are a
    dims-bounded sum of single IEEE products). NULL vectors are
    excluded; mixed dimensionalities are the caller's bug (positions
    past a short vector simply don't contribute to that row — means
    stay per-position well-defined, but comparing ragged corpora is
    not a drift measurement). A zero mean vector (perfectly opposed
    corpus) yields NULL cosine rather than a division blow-up.
    ``n_ref``/``n_cur`` count rows contributing at least one element
    (NULL vectors excluded; empty arrays contribute nothing); a side
    with NO contributing rows reports NULL — the same answer SQL's
    ``max`` over an empty set gives, so engines agree on the edge
    (review r11; 0 would be defensible too, but only one convention can
    match the oracle and NULL is the one SQL already implements).

    Scale shape: one posexplode + (pos) aggregate per side — outputs
    bounded by the embedding dimension; corpora never row-shuffled."""
    def mean_vec(df: DataFrame, side: str) -> DataFrame:
        # the row count rides along in the SAME aggregate (count per
        # position; the max over positions = rows with >= 1 element), so
        # the whole operator stays ONE lazy plan — no eager .count()
        # pre-scans of 100 TB corpora for a one-row report (review r10)
        return (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.posexplode(vec_col).alias("pos", "__v"))
            .groupBy("pos")
            .agg(
                F.round(F.avg(F.col("__v").cast("double")), round_to).alias(
                    f"m_{side}"
                ),
                F.count(F.lit(1)).alias(f"c_{side}"),
            )
        )

    j = mean_vec(ref, "ref").join(mean_vec(cur, "cur"), "pos", "full").select(
        F.coalesce("m_ref", F.lit(0.0)).alias("a"),
        F.coalesce("m_cur", F.lit(0.0)).alias("b"),
        # deliberately NOT coalesced to 0: max() skips NULLs, so a side
        # with no contributing rows reports n = NULL exactly like the
        # oracle's max over an empty CTE (review r11)
        F.col("c_ref").alias("cr"),
        F.col("c_cur").alias("cc"),
    )
    agg = j.agg(
        F.sum(F.col("a") * F.col("b")).alias("dot"),
        F.sum(F.col("a") * F.col("a")).alias("na"),
        F.sum(F.col("b") * F.col("b")).alias("nb"),
        F.max("cr").alias("n_ref"),
        F.max("cc").alias("n_cur"),
    )
    return agg.select(
        F.round(
            F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                F.col("dot") / (F.sqrt("na") * F.sqrt("nb")),
            ),
            round_to,
        ).alias("mean_cosine"),
        F.round(F.sqrt("na"), round_to).alias("ref_norm"),
        F.round(F.sqrt("nb"), round_to).alias("cur_norm"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
    )
