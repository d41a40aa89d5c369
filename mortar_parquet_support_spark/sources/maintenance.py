"""Lake maintenance: small-file compaction and keyed upsert.

The reference's lake is write-once (transform.py appends; nothing ever
rewrites). At 100 TB these two lifecycle operations become mandatory:

- **compaction**: streaming/incremental ingest accumulates many small
  files per partition; parquet scan cost is dominated by file count, not
  bytes, once files are small. ``compact_collections`` rewrites chosen
  collections back to the lake's range-clustered, time-sorted layout with
  ~target-sized files.
- **upsert**: late or corrected readings must replace earlier rows for
  the same (uuid, time). ``upsert_lake`` merges updates into ONLY the
  collections they touch, keeping the newest version per key.

Both replace ONLY the partitions present in the rewritten frame — the
rest of the lake keeps its files' exact identities — so the blast radius
is the touched collections, never the whole table. Since round 13 the
publish is CRASH-ATOMIC: a write-audit-publish protocol
(sources/publish.py) stages the rewrite under a hidden ``.maint/``
transaction, audits per-collection counts, journals the exact live
files being superseded, then swaps at FILE granularity by rename — a
crash at any point converges via ``recover_lake`` with zero data loss,
and files appended after the snapshot survive recovery untouched. The rewrite itself reuses
``write_lake``'s range-repartition + in-file sort, so row-group stats
stay prune-tight after maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mortar_parquet_support_spark.sources.ingest import LAKE_COLUMNS


def _collection_dirs(spark: SparkSession, lake_root: str):
    """(jvm, FileSystem, [FileStatus]) for the lake's ``collection=*``
    partition dirs via Hadoop's FileSystem — honors whatever scheme
    ``lake_root`` lives on (local, HDFS, s3a); a driver-local
    ``glob.glob`` would silently answer nothing for non-local roots.
    The jvm/conf/Path/getFileSystem incantation itself has ONE spelling —
    publish._fs (review r12 caught a second copy of it; review r13
    caught a third: this helper now delegates)."""
    from mortar_parquet_support_spark.sources.publish import _fs

    jvm, fs, P = _fs(spark, lake_root)
    colls = fs.globStatus(P(lake_root.rstrip("/") + "/collection=*"))
    return jvm, fs, list(colls) if colls is not None else []


def _unescape_partition_value(name: str) -> str:
    """Inverse of Spark's ExternalCatalogUtils.escapePathName: partition
    DIRECTORY names percent-escape special characters (':' -> '%3A'), but
    the COLUMN value is unescaped — a collection filter built from the
    raw dir suffix would match nothing and the rewrite would silently
    no-op (review r12)."""
    import re

    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _lake_is_uuid_partitioned(spark: SparkSession, lake_root: str) -> bool:
    """Detect the reference's two-level ``collection=/uuid=/`` layout from
    the physical directory structure (see _collection_dirs). A wrong
    answer would migrate a uuid-partitioned lake to the collection-only
    layout — destructive."""
    jvm, fs, colls = _collection_dirs(spark, lake_root)
    if not colls:
        return False
    # ALL collection dirs must be uuid-partitioned to call the lake
    # uuid-partitioned; a mixed lake keeps the safer collection-only layout
    for status in colls:
        sub = fs.globStatus(
            jvm.org.apache.hadoop.fs.Path(str(status.getPath()) + "/uuid=*")
        )
        if sub is None or len(sub) == 0:
            return False
    return True


def write_zordered(
    df: DataFrame,
    destination: str,
    *,
    cols: list[str],
    bits: int = 16,
    files: int | None = None,
    partition_by: tuple = (),
    mode: str = "error",
    bloom_cols: tuple = (),
    bloom_ndv: int | None = None,
) -> None:
    """Write ``df`` clustered on the Z-order (Morton) key over ``cols`` —
    the ``OPTIMIZE ZORDER BY`` layout for lakes whose queries filter on
    SEVERAL independent columns. A linear sort gives perfect min/max
    pruning on the leading column and none on the others; the interleaved
    key gives every listed column partial locality, so row-group/file
    stats prune on ALL of them (measured in
    tests/test_skew_formats.py::test_zorder_layout_prunes_trailing_dim:
    a trailing-column box predicate that qualifies EVERY file of a
    linear layout qualifies a strict subset of the z-ordered files, while
    the leading column's pruning stays bounded).

    Scale shape: :func:`~mortar_parquet_support_spark.functions.zorder_key`
    costs one min/max aggregate + a pure projection; the write is one
    ``repartitionByRange`` on the key (a range shuffle — sampled, no
    skew pileup) with an in-partition sort, exactly like ``write_lake``.
    ``files`` pins the range-partition count (else the session default);
    ``bloom_cols`` composes (see ``write_lake``) for point-lookup columns
    not worth a slot in the interleave."""
    from mortar_parquet_support_spark.functions import zorder_key
    from mortar_parquet_support_spark.sources.ingest import (
        _apply_bloom_options,
        _validate_bloom_options,
    )

    # every cheap rejection BEFORE zorder_key: it runs its min/max
    # aggregation job eagerly, so validating after it wastes a full input
    # scan on the error path
    if "__z" in df.columns:
        raise ValueError("frame already has a __z column")
    if files is not None and files <= 0:
        raise ValueError(f"files must be positive, got {files}")
    _validate_bloom_options(df, bloom_cols, bloom_ndv, tuple(partition_by))
    z = zorder_key(df, cols, bits=bits)
    staged = df.withColumn("__z", z)
    parts = (
        staged.repartitionByRange(files, "__z")
        if files is not None
        else staged.repartitionByRange("__z")
    )
    # the projection drops only the scratch key; row order within each
    # written file is the sort order (projections never reorder rows)
    out = parts.sortWithinPartitions("__z", *cols).drop("__z")
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer = _apply_bloom_options(writer, bloom_cols, bloom_ndv)
    writer.parquet(destination)


def parquet_bloom_columns(spark: SparkSession, file_path: str) -> dict:
    """{column -> bloom filter present?} for one parquet file's first row
    group, read off the footer via parquet-mr (PyArrow 16 does not expose
    bloom offsets). The operational "did my lake actually get blooms?"
    probe — write-side options are silently ignored by writers that don't
    know them, so presence must be witnessed, not assumed."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(file_path)
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(input_file)
    try:
        blocks = reader.getFooter().getBlocks()
        if blocks.size() == 0:
            return {}
        out = {}
        cols = blocks.get(0).getColumns()
        for i in range(cols.size()):
            c = cols.get(i)
            out[c.getPath().toDotString()] = c.getBloomFilterOffset() >= 0
        return out
    finally:
        reader.close()


def compact_collections(
    spark: SparkSession,
    lake_root: str,
    *,
    collections: list[str] | None = None,
    target_rows_per_file: int | None = None,
    bloom_cols: tuple = (),
    bloom_ndv: int | None = None,
    stale_after_secs: float | None = None,
) -> None:
    """Rewrite ``collections`` (default: all) into few well-sorted files.

    ``target_rows_per_file`` caps file size via ``maxRecordsPerFile`` for
    the rewrite; by default the range repartition alone decides (one file
    per shuffle partition per collection). On a real cluster set a session
    checkpoint dir: it upgrades the pre-overwrite barrier to a reliable
    checkpoint on shared storage, so a lost executor mid-overwrite can't
    force a lineage recompute that re-reads the lake path being rewritten
    (localCheckpoint blocks die with their executor).

    ``bloom_cols``/``bloom_ndv`` re-apply parquet Bloom filters during the
    rewrite (see ``write_lake``): parquet write options are per-WRITE, so
    a compaction that omits them would silently strip the blooms an
    ingest wrote — the maintenance op must re-state the lake's physical
    contract, not just its rows.
    """
    if collections is not None and not collections:
        # an explicitly EMPTY selection is a no-op — falling through would
        # read `if collections:` as "compact everything" and rewrite the
        # whole lake on a night nothing qualified
        return
    # the maintenance lock spans the whole read->publish span (not just
    # the publish): without it, a concurrent maintenance writer could
    # rewrite a collection between this read and our journal, and our
    # publish would supersede rows it never read (r14 — the enforcement
    # of publish.py's single-writer assumption). recover BEFORE reading:
    # a frame built on a half-converged lake (one collection parked in a
    # txn backup) would bake the missing partition into the rewrite.
    from mortar_parquet_support_spark.sources.publish import (
        maintenance_lock,
        publish_rewrite,
        recover_lake,
    )

    with maintenance_lock(spark, lake_root, stale_after_secs=stale_after_secs):
        recover_lake(spark, lake_root)
        layout_uuid = _lake_is_uuid_partitioned(spark, lake_root)
        df = spark.read.parquet(lake_root).select(*LAKE_COLUMNS)
        if collections is not None:
            df = df.filter(F.col("collection").isin(list(collections)))
        prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
        if target_rows_per_file:
            spark.conf.set(
                "spark.sql.files.maxRecordsPerFile", str(target_rows_per_file)
            )
        try:
            publish_rewrite(
                df, lake_root, partition_uuid=layout_uuid,
                bloom_cols=bloom_cols, bloom_ndv=bloom_ndv,
            )
        finally:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)


def fragmented_collections(
    spark: SparkSession, lake_root: str, *, max_files: int
) -> list[str]:
    """Collections whose parquet file count exceeds ``max_files`` — a
    pure FOOTER-FREE listing probe (Hadoop FS recursive list, no data
    read, honors whatever scheme the root lives on), so it is cheap to
    run after every streaming micro-batch. File count is the right
    fragmentation signal for this lake: scan cost is dominated by
    per-file open/footer overhead once files are small, and the
    streaming file sink adds one file per collection per batch without
    bound."""
    if max_files < 1:
        raise ValueError(f"max_files must be >= 1, got {max_files}")
    _jvm, fs, colls = _collection_dirs(spark, lake_root)
    out: list[str] = []
    for status in colls:
        n = 0
        it = fs.listFiles(status.getPath(), True)  # recursive: uuid layout too
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
                if n > max_files:
                    break
        if n > max_files:
            name = status.getPath().getName()
            out.append(_unescape_partition_value(name[len("collection="):]))
    return sorted(out)


def compact_if_fragmented(
    spark: SparkSession,
    lake_root: str,
    *,
    max_files: int = 32,
    stale_after_secs: float | None = None,
    **compact_kwargs,
) -> list[str]:
    """Auto-compaction trigger: compact ONLY the collections whose file
    count exceeds ``max_files``, leave everything else untouched (their
    files keep their exact identities — the publish protocol only moves
    files its journal names, and it only journals staged partitions). Returns the compacted collection
    names ([] = nothing qualified, nothing rewritten — the explicit-empty
    no-op contract of compact_collections).

    This is the missing loop-closer for ``stream_ingest``: the streaming
    file sink appends one file per collection per micro-batch without
    bound, and running this after every N batches (or from a cron) keeps
    scan cost flat. ``compact_kwargs`` forwards to
    :func:`compact_collections` (``target_rows_per_file``,
    ``bloom_cols``/``bloom_ndv`` — remember the bloom
    passthrough if ingest writes blooms)."""
    # recover BEFORE the listing probe, not just before the rewrite: a
    # collection parked in a crashed transaction's backup dir is invisible
    # to the file count and would silently skip a compaction tick. The
    # lock covers probe AND compact so the probe's verdict can't be
    # invalidated by a concurrent writer (r14).
    from mortar_parquet_support_spark.sources.publish import (
        maintenance_lock,
        recover_lake,
    )

    with maintenance_lock(spark, lake_root, stale_after_secs=stale_after_secs):
        recover_lake(spark, lake_root)
        victims = fragmented_collections(
            spark, lake_root, max_files=max_files
        )
        compact_collections(
            spark, lake_root, collections=victims, **compact_kwargs
        )
    return victims


def upsert_lake(
    spark: SparkSession,
    lake_root: str,
    updates: DataFrame,
    *,
    keys: tuple[str, ...] = ("collection", "uuid", "time"),
    bloom_cols: tuple = (),
    bloom_ndv: int | None = None,
    stale_after_secs: float | None = None,
) -> None:
    """Merge ``updates`` (lake schema) into the lake: for each key, the
    update wins over the existing row; unmatched updates insert. Only the
    collections present in ``updates`` are rewritten.

    ``bloom_cols``/``bloom_ndv`` re-apply parquet Bloom filters to the
    rewritten collections (same rationale as ``compact_collections``:
    parquet options are per-write, so an upsert that omitted them would
    silently strip the blooms ingest wrote from every collection it
    touches).

    Implementation: read ONLY the touched collections (partition-pruned
    scan), union with updates tagged by recency, keep the newest row per
    key with one window, publish those collections through the
    crash-atomic protocol. The shuffle is bounded by the touched
    partitions' size, not the lake's.
    """
    from mortar_parquet_support_spark.functions import materialize
    from mortar_parquet_support_spark.sources.publish import (
        maintenance_lock,
        publish_rewrite,
        recover_lake,
    )

    # lock over the whole merge->publish span (see compact_collections),
    # and the same pre-read recovery rationale: the merge reads the live
    # lake, which must be converged first
    with maintenance_lock(spark, lake_root, stale_after_secs=stale_after_secs):
        recover_lake(spark, lake_root)
        # Pin the updates ONCE: the plan executes twice below (the touched-
        # collection collect, then the merge). A nondeterministic updates
        # source could otherwise surface a collection in the second execution
        # that the first missed — whose existing rows would then be dropped by
        # the publish (its journal supersedes the touched partitions' files).
        updates = materialize(updates.select(*LAKE_COLUMNS))
        touched = [
            r.collection
            for r in updates.select("collection").distinct().collect()
        ]
        if not touched:
            return
        # NULL-collection rows land in __HIVE_DEFAULT_PARTITION__, which the
        # publish WILL rewrite when the updates touch it — but
        # isin(...) never matches NULL, so the existing rows of that partition
        # would be excluded from the merge and silently deleted
        non_null = [c for c in touched if c is not None]
        cond = (
            F.col("collection").isin(non_null) if non_null else F.lit(False)
        )
        if any(c is None for c in touched):
            cond = cond | F.col("collection").isNull()
        existing = (
            spark.read.parquet(lake_root)
            .select(*LAKE_COLUMNS)
            .filter(cond)
        )
        merged = existing.withColumn("__v", F.lit(0)).unionByName(
            updates.withColumn("__v", F.lit(1))
        )
        # tie-break BEYOND recency: an updates batch carrying two rows for
        # one key would otherwise keep a shuffle-order-dependent winner (the
        # greatest remaining value struct wins — deterministic across reruns,
        # so at-least-once replay stays idempotent even for intra-batch dups)
        value_cols = [c for c in LAKE_COLUMNS if c not in keys]
        w = Window.partitionBy(*keys).orderBy(
            F.col("__v").desc(),
            *(F.struct(*[F.col(c) for c in value_cols]).desc(),)
            if value_cols
            else (),
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__v")
        )
        publish_rewrite(
            latest, lake_root,
            partition_uuid=_lake_is_uuid_partitioned(spark, lake_root),
            bloom_cols=bloom_cols, bloom_ndv=bloom_ndv,
        )


def diff_tables(
    old: DataFrame,
    new: DataFrame,
    *,
    keys: list[str],
    digest,
) -> DataFrame:
    """Versioned-corpus diff: (keys..., change) with change in
    {'added', 'removed', 'changed'} for every key whose content digest
    differs between two snapshots — the audit primitive behind "what did
    this ingestion run actually do" and incremental re-processing
    (recompute only the changed keys downstream).

    ``digest`` is a Column expression evaluated against BOTH frames
    (md5 over the content columns, typically). NULL-safe: a NULL digest
    on both sides is 'unchanged' (dropped), on one side it is a real
    add/remove. Unchanged keys never leave the join — the output is the
    (small) delta, not a full snapshot.

    Scale shape: one co-partitioned full-outer join on ``keys`` — both
    snapshots shuffle once, which is the floor for an exact diff of
    unsorted tables; snapshots maintained bucketed on ``keys``
    (sources/bucketed.py) diff with zero exchange."""
    # explicit presence markers: after a full-outer join, a NULL digest is
    # ambiguous between "key absent on that side" and "key present with
    # NULL content" — a row that GAINS content from NULL must be
    # 'changed', not 'added'
    o = old.select(
        *keys, digest.alias("__d_old"), F.lit(True).alias("__in_old")
    )
    n = new.select(
        *keys, digest.alias("__d_new"), F.lit(True).alias("__in_new")
    )
    joined = o.join(n, list(keys), "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(~F.col("__d_old").eqNullSafe(F.col("__d_new")), "changed")
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .drop("__d_old", "__d_new", "__in_old", "__in_new")
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    *,
    keys: "tuple[str, ...]",
    version_col: str,
    op_col: str = "op",
    delete_value: str = "D",
) -> DataFrame:
    """Apply a change-data-capture log to a snapshot: for every key, the
    HIGHEST-version change wins — an insert/update ('I'/'U'/anything but
    ``delete_value``) replaces the base row, a delete removes it, and
    keys untouched by the log pass through. The standard CDC-compaction
    shape (Debezium-style op + version/LSN columns -> next snapshot).

    Correctness rules the naive "union + latest" misses, all handled:

    - only the LATEST change per key decides — an older delete under a
      newer update must not delete (and vice versa);
    - version ties break toward delete (the conservative read: a same-
      version I+D pair means the row did not survive the transaction),
      then by the operation column for total determinism;
    - NULL versions are rejected loudly (an unversioned change cannot be
      ordered — silently last-writer-wins would be replay-dependent);
    - NULL ops are rejected just as loudly: ``NULL == delete_value`` is
      NULL, which would match the "untouched" branch — the latest change
      silently ignored for existing keys, and a ghost all-NULL row
      emitted for new keys (ADVICE r9).

    Scale shape: the change log aggregates to one winner per key (one
    shuffle of the LOG, bounded by change volume), then a single
    key-equijoin against the base — full outer so inserts survive; the
    base is shuffled once on its keys, never windowed. Returns the next
    snapshot with ``base``'s columns."""
    if version_col in keys or op_col in keys:
        raise ValueError("version/op columns cannot be key columns")
    # one validation scan for both contracts (not one job per column)
    bad = (
        changes.filter(
            F.col(version_col).isNull() | F.col(op_col).isNull()
        )
        .select(version_col, op_col)
        .limit(1)
        .collect()
    )
    if bad:
        col = version_col if bad[0][0] is None else op_col
        why = (
            "unversioned changes cannot be ordered"
            if col == version_col
            else "an op-less change would silently fall into the "
            "untouched branch"
        )
        raise ValueError(f"apply_cdc: NULL {col!r} in changes — {why}")
    data_cols = [c for c in base.columns]
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc(),
        # tie toward delete, then op string for total determinism
        (F.col(op_col) == delete_value).desc(),
        F.col(op_col),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(k) for k in keys],
            (F.col(op_col) == delete_value).alias("__is_del"),
            *[
                F.col(c).alias(f"__chg_{c}")
                for c in data_cols
                if c not in keys
            ],
        )
    )
    joined = base.join(latest, list(keys), "full")
    untouched = F.col("__is_del").isNull()
    survived = F.col("__is_del") == F.lit(False)
    out_cols = []
    for c in data_cols:
        if c in keys:
            out_cols.append(F.col(c))
        else:
            out_cols.append(
                F.when(untouched, F.col(c))
                .otherwise(F.col(f"__chg_{c}"))
                .alias(c)
            )
    return joined.filter(untouched | survived).select(*out_cols)
