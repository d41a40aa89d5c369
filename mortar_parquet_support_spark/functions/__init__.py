"""Reusable Column expression helpers (all JVM-side built-ins — no Python
UDFs in the hot path)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def materialize(df, *, eager: bool = True):
    """Eager materialization barrier for iterative pipelines (lineage cut +
    AQE double-execution guard — rationale in operators/dedup.py's
    minhash_lsh_candidates docstring).

    The tier is session state: with a checkpoint dir set on the
    SparkContext the barrier is a reliable, always-eager ``checkpoint()``;
    otherwise it is ``localCheckpoint(eager)``.
    ``eager=False`` defers the local checkpoint's write to the frame's
    first action, which saves a job only on that tier — a lazy reliable
    checkpoint is written by a second job that re-runs the lineage.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def staged_columns(df, *stages: dict) -> "DataFrame":  # noqa: F821
    """Apply column definitions in SEQUENTIAL projections so shared
    subexpressions are computed once, not re-inlined.

    Each ``stage`` is a ``{name: Column}`` dict; later stages reference
    earlier results with ``F.col(name)``. Catalyst's CollapseProject leaves
    a multi-referenced non-trivial alias in its own projection instead of
    duplicating its subtree into every consumer — so a formula that reuses
    an expensive part (regex split, array fold) generates that part's code
    ONCE. The inlined single-projection form of the same formula can blow
    whole-stage codegen past the JIT code cache (a 13x slowdown was
    measured on operators/text.py's quality score before it was staged —
    this utility is that fix, packaged for user-composed pipelines).

    >>> staged_columns(df,
    ...     {"words": F.split(F.lower("text"), r"\\s+")},
    ...     {"n_words": F.size(F.col("words")),
    ...      "n_stop": F.size(F.filter(F.col("words"), is_stopword))},
    ...     {"stop_ratio": F.col("n_stop") / F.col("n_words")})
    """
    for stage in stages:
        df = df.withColumns(stage)
    return df


def dot_product(a, b) -> Column:
    """Left-to-right-fold dot product of two array<numeric> columns
    (deterministic summation order — reproducible bit-for-bit)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def vector_norm(v) -> Column:
    """Euclidean norm of an array<numeric> column, same fold order as
    :func:`dot_product` — ``vector_norm(v)`` is bit-identical to
    ``sqrt(dot_product(v, v))``, so norms precomputed at index-build time
    (IvfIndex) divide out to exactly the value an inline
    :func:`cosine_similarity` would produce."""
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a, b) -> Column:
    """Cosine similarity of two array<numeric> columns, computed JVM-side
    with a left-to-right fold (deterministic summation order, so results are
    reproducible bit-for-bit across engines that fold the same way).

    Zero-norm (degenerate) vectors yield NULL via ``try_divide``: cosine
    has no defined direction there, and under ANSI mode (Spark 4 default)
    a plain ``/`` would THROW DIVIDE_BY_ZERO and kill the whole job on one
    bad row — a single all-zeros embedding in a 100 TB corpus must degrade
    to a NULL score (which ranks last under ``desc``), not abort the scan.
    For nonzero norms ``try_divide`` is the same IEEE division bit-for-bit.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.try_divide(dot_product(a, b), vector_norm(a) * vector_norm(b))


def cosine_from_norms(a, b, norm_a, norm_b) -> Column:
    """:func:`cosine_similarity` with the norms factored out — THE spelling
    for pair expressions whose per-row norms were precomputed with
    :func:`vector_norm` (IvfIndex build, cosine_topk, embedding_dedup,
    semantic_dedup, _assign_lists). One definition so the bit-identity
    contract — ``try_divide(dot, na*nb)`` equals the inline formula exactly
    when ``na``/``nb`` came from vector_norm (same fold order) — cannot
    drift between call sites (r16 review). Same NULL-on-zero-norm
    degradation as cosine_similarity."""
    return F.try_divide(dot_product(a, b), norm_a * norm_b)


def char_ngrams(col, n: int = 3) -> Column:
    """Distinct character n-grams of a string column as array<string>,
    via sequence+transform (no explode, no UDF).

    Strings shorter than ``n`` (including empty) fall back to ONE
    whole-string gram — explicit and value-identical to the historical
    behavior (which leaned on ``sequence(1, 0)`` being the DESCENDING
    list [1, 0], an accident a refactor could silently change), and
    mirrors word_shingles' short-doc fallback so identical short strings
    still collide instead of vanishing from the gram space."""
    c = F.col(col) if isinstance(col, str) else col
    count = F.greatest(F.length(c) - (n - 1), F.lit(0))
    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(1), count), lambda i: c.substr(i, F.lit(n)))
    )
    # NULL input -> NULL grams (same contract as word_shingles), not [NULL]
    return F.when(c.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.when(count > 0, grams).otherwise(F.array(c))
    )


# the Java-regex \s class — exactly the characters \s+ splits on, so a
# btrim over this set leaves a string whose \s+ split has NO boundary
# empties (interior runs can't produce them: split matches maximal runs)
_JAVA_WS = " \t\n\x0b\f\r"


def ws_tokens(col) -> Column:
    """Whitespace tokenization with no empty tokens, entirely inside
    whole-stage codegen: ``split(btrim(c, <\\s chars>), '\\s+')``.

    Value-identical to the historical HOF spelling
    ``filter(split(trim(c), '\\s+'), w -> w != '')`` — '' tokens can only
    arise at the boundaries (split consumes maximal ``\\s+`` runs), and
    btrim over the full ``\\s`` set removes exactly those boundaries;
    F.trim alone strips only ASCII spaces, the r8 phantom-token bug.
    The spelling matters at corpus scale: higher-order-function lambdas
    are INTERPRETED per row, outside codegen, while btrim+split codegen
    like any other string expression. An
    all-whitespace or empty input yields [''] (size 1) — callers that
    must exclude content-free docs filter ``btrim != ''`` / ``rlike
    '\\S'`` FIRST, exactly as they did under the HOF spelling, whose []
    only differed on inputs those guards already drop.

    This identity is EVIDENCE, not argument: tests/
    test_ws_tokens_contract.py re-materializes the r14 HOF spelling
    verbatim and runs every consumer (minhash_signatures, simhash,
    word_shingles, the heavy_hitters entry tokenization) over an
    edge-input battery (empty, NULL, all-whitespace including
    vertical-tab/formfeed/CR, tab/newline-leading, interior multi-space)
    under BOTH spellings, asserting row-for-row output identity — plus
    the one designed raw divergence ([''] vs [] on content-free input)
    so nobody "fixes" it silently."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.btrim(c, F.lit(_JAVA_WS)), r"\s+")


def word_shingles(col, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) as array<string>.

    Documents shorter than ``k`` words fall back to ONE whole-document
    shingle (matching minhash_signatures' short-doc fallback) so identical
    short documents still compare at Jaccard 1.0 instead of silently
    vanishing from the shingle space."""
    c = F.col(col) if isinstance(col, str) else col
    # empty tokens removed via the btrim spelling (ws_tokens): F.trim
    # strips only ASCII spaces, so text starting with a tab/newline used
    # to yield a phantom '' leading token that shifted every shingle
    # (review finding r8); the r15 spelling keeps that fix AND stays in
    # whole-stage codegen. Edge parity with the old HOF filter: an
    # all-whitespace doc gives [''] here vs [] before — count is 0 for
    # k>=2 either way (greatest(size-k+1, 0)... see below), and for k=1
    # the single '' gram equals the old fallback's concat_ws('', []) =
    # '' gram, so the returned shingle set is [''] in BOTH spellings.
    words = ws_tokens(c)
    count = F.greatest(F.size(words) - (k - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    grams = F.when(count > 0, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )).otherwise(F.array(F.concat_ws(" ", words)))
    # NULL text -> NULL shingles, NOT ['']: the fallback would otherwise
    # give null documents the same shingle set as genuinely empty ones
    # (Jaccard 1.0 between a null doc and every empty doc — silent
    # dedup-as-duplicates of incomparable records)
    return F.when(c.isNull(), F.lit(None).cast("array<string>")).otherwise(grams)


def interleave_bits(cols: list[Column], *, bits: int = 16) -> Column:
    """Bit-interleave non-negative integer columns into one Z-order
    (Morton) key: bit j of column i lands at position ``j*len(cols)+i``.
    Pure bitwise JVM expressions — shift/mask/or, no UDF.

    ``bits * len(cols)`` must stay <= 63: position 63 is the long's sign
    bit (keys would sort negative) and the JVM wraps shift counts mod 64
    (high bits would alias low bits).

    Inputs must already fit in ``bits`` bits: only bit positions j < bits
    are extracted, so a value >= 2**bits contributes its value MOD 2**bits
    — x = 1 and x = 2**bits + 1 land in the same Z-neighborhood and
    clustering silently degrades. Pre-bucket wide domains first (what
    :func:`zorder_key` does with its ntile stage) rather than raising
    ``bits``."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"bits*len(cols) = {bits * n} exceeds 63; "
            f"use bits <= {63 // n} for {n} columns"
        )
    key = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * n + i))
    return key


def zorder_key(
    df,
    cols: list[str],
    *,
    bits: int = 16,
    relative_error: float = 0.001,
) -> Column:
    """Z-order (Morton) sort key over ``cols`` for multi-dimensional
    file/row-group clustering — the Delta ``OPTIMIZE ZORDER BY`` idea as a
    plain Column: sort (or ``repartitionByRange``) by this key before
    writing, and parquet min/max stats prune on EVERY listed column
    instead of only the leading sort column.

    Scale shape: ONE min/max aggregation over the listed columns (driver
    gets 2 scalars per column), then a pure projection: uniform
    ``width_bucket`` onto a ``2**bits`` grid + JVM-side bit interleave.
    Uniform bucketing keeps the projection O(1) per value; heavily skewed
    columns cluster less evenly (quantile grids would need per-row
    boundary search) — normalize skewed columns first if it matters.
    Numeric and timestamp columns supported; ``relative_error`` is unused
    (kept for a future quantile grid). ``bits`` is clamped so the
    interleaved key fits 63 bits regardless of column count; empty or
    all-null columns contribute a constant 0 bucket.
    """
    bits = min(bits, 63 // max(len(cols), 1))
    n_buckets = 1 << bits

    def _numeric(c: str) -> Column:
        col = F.col(c)
        if df.schema[c].dataType.simpleString().startswith("timestamp"):
            return F.unix_timestamp(col).cast("double")
        return col.cast("double")

    stats = df.agg(
        *[F.min(_numeric(c)).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(_numeric(c)).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    bucketed = []
    for i, c in enumerate(cols):
        if stats[f"mn_{i}"] is None or stats[f"mx_{i}"] is None:
            bucketed.append(F.lit(0).cast("long"))  # empty frame / all-null
            continue
        mn, mx = float(stats[f"mn_{i}"]), float(stats[f"mx_{i}"])
        if mx <= mn:
            bucketed.append(F.lit(0).cast("long"))
            continue
        # NULL values bucket to 0 (cluster with the minimum): width_bucket
        # yields NULL and least/greatest SKIP nulls, which would silently
        # send null rows to the TOP bucket and give every file containing
        # them max-range stats on this dimension
        b = F.coalesce(
            F.width_bucket(_numeric(c), F.lit(mn), F.lit(mx), F.lit(n_buckets - 1)),
            F.lit(1),
        )
        # width_bucket is 1-based and clamps out-of-range to 0/n+1
        bucketed.append(F.greatest(F.least(b - 1, F.lit(n_buckets - 1)), F.lit(0)).cast("long"))
    return interleave_bits(bucketed, bits=bits)


def tiny_frame(spark, rows, schema):
    """Single-partition DataFrame from a small driver-side row list.

    ``spark.createDataFrame(rows, schema)`` scatters even a 1-row list
    across ``defaultParallelism`` Python-RDD partitions (32 here), and a
    following ``coalesce(1)`` — the natural move before writing a tiny
    model/report file — then pulls all 32 through ONE task's serial
    Python-worker round-trips: measured 3-6 s for one row where the same
    write off a single-partition source takes ~0.2 s (round 12, found by
    the streaming cadence bench). Building the frame on a 1-slice RDD
    gives one round-trip and one output file with no coalesce needed.
    Driver-built model/report rows ONLY — anything data-sized must come
    from a distributed plan, never a Python list.

    r16: this is now THE spelling for every driver-built frame on a query
    path, not just pre-write coalescing. A bare createDataFrame list
    became the single biggest cost in cms_estimate: its two ~50-row
    frames each scattered over 32 Python-RDD partitions, their crossJoin
    planned as a 32x32 CartesianProduct, and every evaluation pushed
    ~1000 near-empty tasks through Python-worker round-trips — 16s for
    48 rows at sf0.1, measured. Slices scale with the list (one per
    20k rows, capped at defaultParallelism) so a parsed TTL corpus or an
    800k-triple ontology doesn't serialize through one task either."""
    n_slices = max(1, min(
        spark.sparkContext.defaultParallelism, 1 + len(rows) // 20_000
    ))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )


def local_frame(spark, names, rows):
    """Nullable string columns ``names`` over driver-side ``rows`` (tuples),
    as one ``LocalRelation`` built from an Arrow table. Unlike
    :func:`tiny_frame`'s Python RDD, actions over it run on the driver:
    projections, filters and limits fold into the relation, and
    ``collect`` submits no Spark job. For driver-sized rows only."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if not names:  # an Arrow table without columns cannot count rows
        return local_frame(spark, ["__unit"], [("",)] * len(rows)).drop("__unit")
    columns = list(zip(*rows)) if rows else [()] * len(names)
    table = pa.Table.from_arrays(
        [pa.array(c, pa.string()) for c in columns], names=list(names)
    )
    schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    return spark.createDataFrame(table, schema)
