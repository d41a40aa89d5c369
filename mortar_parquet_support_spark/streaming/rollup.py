"""Structured Streaming rollups over the lake / event streams.

The reference's ``to_batches`` (client.py:65-72) is pull-based pagination,
not stream processing (SURVEY.md §2.6) — this module provides the real
thing for the north-star scope: an incremental windowed rollup with
watermarked late-data handling that runs identically over a file stream
(incremental lake ingest) or any other Structured Streaming source.

Scale shape: the streaming aggregation state is keyed on
(key, window) — the same partitioning as the batch rollup — and the
watermark bounds state size; ``availableNow`` drives catch-up batches
through the same plan, so a backfill and live tailing share one code path.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _round_half_up(x: float, nd: int) -> float:
    """Driver-side rounding that matches Spark's ``F.round`` on doubles
    (BigDecimal.valueOf(double) + HALF_UP — i.e. shortest-repr decimal,
    half away from zero). Python's built-in ``round()`` is banker's
    half-EVEN, which silently disagrees on exact halves; any driver
    arithmetic that claims equality with an in-plan F.round must use
    this instead (review r11)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def windowed_rollup_stream(
    events, *, ts: str = "ts", key: str = "event_type",
    bucket: str = "15 minutes", watermark: str = "1 hour", value: str = "value",
):
    """Streaming DataFrame -> watermarked windowed aggregate (append-able)."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.window(F.col(ts), bucket).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value).alias("sum_value"),
        )
        .select(key, F.col("w.start").alias("bucket"), "n", "sum_value")
    )


def _events_stream(
    spark: SparkSession, sf_dir: str, *, reader_options: "dict | None" = None
):
    """File stream over the events parquet with the same ts normalization
    as the batch loader (tables.load_table): INT64-nanos fixtures are
    rebuilt as µs timestamps; µs-timestamp fixtures pass through.

    Handles BOTH fixture layouts (r12 fix): the driver testdata ships
    ``events.parquet`` as a single FILE (matched via pathGlobFilter on the
    parent dir), while tools/gen_sf.py fixtures write it as a DIRECTORY of
    part files — the old glob matched nothing there and the stream
    silently read ZERO rows. ``reader_options`` passes file-source options
    through (e.g. ``maxFilesPerTrigger`` for the micro-batch cadence
    bench, tools/bench_streaming.py).

    Event-time REQUIREMENT: ``withWatermark`` / event-time state only accept
    TIMESTAMP (with local tz), never TIMESTAMP_NTZ — so whatever the fixture
    encoding, ``ts`` is cast to ``timestamp`` here. The session runs in UTC
    (session.py), which makes the NTZ->LTZ cast value-preserving, and every
    batch-vs-stream equivalence (and the DuckDB oracle) agrees."""
    import os

    from ..tables import read_events_raw

    batch = read_events_raw(spark, sf_dir)
    reader = spark.readStream.schema(batch.schema).format("parquet")
    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(events_path):
        reader = reader.option("pathGlobFilter", "*.parquet")
        load_path = events_path
    else:
        reader = reader.option("pathGlobFilter", "events.parquet")
        load_path = sf_dir
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load(load_path)
    if dict(batch.dtypes)["ts"] in ("bigint", "long"):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # NTZ (or anything else) -> event-time-capable TIMESTAMP; no-op when the
    # column already is one.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory(stream_df, *, output_mode: str) -> DataFrame:
    """Drive a streaming frame to completion (availableNow) into a uniquely
    named memory sink; return the sink contents as a batch frame.

    The result is cut over to a localCheckpoint and the sink's temp view is
    dropped before returning: each memory sink pins its full result in
    DRIVER memory for the session lifetime, so repeated *_once calls on a
    long-lived session would otherwise grow driver memory without bound
    (the checkpoint moves the rows to executor block storage, which is
    evictable and released with the returned frame)."""
    import uuid

    name = "mortar_stream_" + uuid.uuid4().hex
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    spark = stream_df.sparkSession
    try:
        q.awaitTermination()
        # localCheckpoint EXPLICITLY, not materialize(): these results are
        # small bounded frames, and materialize upgrades to a RELIABLE
        # checkpoint whenever the session has a checkpoint dir — reliable
        # checkpoint files are never cleaned by the ContextCleaner
        # (cleanCheckpoints defaults false), so repeated
        # *_once calls would grow that dir without bound, the very
        # session-lifetime leak this function exists to prevent
        # (review r14)
        out = spark.table(name).localCheckpoint(eager=True)
    finally:
        # drop even when the query FAILED — otherwise the uniquely-named
        # view and the MemorySink's buffered rows stay pinned in driver
        # memory for the session lifetime, defeating this function's own
        # bounded-driver-memory guarantee on every failing call
        spark.catalog.dropTempView(name)
    return out


def streaming_dedup_stream(
    events, *, keys: list[str], ts: str = "ts", watermark: str = "365 days"
):
    """Streaming exact dedup with BOUNDED state: keep the first event per
    key, where 'duplicate' means same key within the watermark horizon.
    State per key is dropped once the watermark passes it — the property
    that makes exact dedup runnable forever on an unbounded stream (a plain
    dropDuplicates would grow state without bound). Emits the key columns
    plus the event time so output is deterministic under stream reordering
    only up to the key set — project to keys for engine-comparable output.
    """
    return events.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(list(keys))


def stream_incremental_dedup(
    stream_df,
    index,
    *,
    digest,
    sink,
    within_batch: bool = True,
    mark_seen: bool = True,
):
    """Cross-RUN streaming dedup: each micro-batch probes (and, with
    ``mark_seen``, extends) a persisted
    :class:`~mortar_parquet_support_spark.operators.incremental.DigestIndex`,
    so duplicates are recognized across restarts, across streams, and
    against historically batch-ingested corpora — state that
    ``dropDuplicatesWithinWatermark`` (bounded to its watermark horizon,
    private to one query's checkpoint) cannot see. The complement of
    :func:`streaming_dedup_stream`, not a replacement: watermarked state
    for in-flight duplicates, the digest index for forever-state.

    ``sink(survivors_df, batch_id)`` runs BEFORE the index append: a
    failure between the two replays the batch with the digests still
    unmarked, re-emitting survivors (at-least-once, standard foreachBatch
    semantics) instead of silently dropping them forever (the
    fail-unsafe order). ``within_batch`` collapses intra-batch
    duplicates first — the index only answers the cross-batch question.

    Returns the configured ``DataStreamWriter`` (caller starts it,
    typically with ``.trigger(availableNow=True)`` + a checkpoint dir).
    """
    from mortar_parquet_support_spark.operators.incremental import (
        incremental_dedup,
    )

    def _process(batch_df, batch_id):
        b = batch_df
        if within_batch:
            # NULL digests carry no identity, so they are exempt from the
            # in-batch collapse too (dropDuplicates treats NULLs as equal
            # and would arbitrarily drop all but one NULL-text document —
            # violating the probe's 'NULL digests always survive'
            # contract whenever they happen to share a micro-batch)
            b = b.withColumn("__sid_digest", digest)
            b = (
                b.filter(F.col("__sid_digest").isNotNull())
                .dropDuplicates(["__sid_digest"])
                .unionByName(b.filter(F.col("__sid_digest").isNull()))
                .drop("__sid_digest")
            )
        survivors = incremental_dedup(b, index, digest=digest)
        # both consumers (sink, index append) must see the SAME rows —
        # without the barrier each would recompute the probe against an
        # index the other may already have extended. localCheckpoint (not
        # persist): a cache eviction would silently recompute against the
        # mutated index; the checkpoint makes that impossible. Its blocks
        # are released by the ContextCleaner when the batch's RDD is
        # GC'd — there is no deterministic-release API for local
        # checkpoints, and the per-batch footprint is one survivor set.
        survivors = survivors.localCheckpoint(eager=True)
        sink(survivors, batch_id)
        if mark_seen:
            index.add(digest, survivors)

    return stream_df.writeStream.foreachBatch(_process)


def stream_neardedup(
    stream_df,
    index,
    *,
    id_col: str,
    text_col: str,
    sink,
    threshold: float = 0.7,
    mark_seen: bool = True,
):
    """Fuzzy sibling of :func:`stream_incremental_dedup`: each micro-batch
    probes (and, with ``mark_seen``, extends) a persisted
    :class:`~mortar_parquet_support_spark.operators.incremental.MinHashIndex`,
    so NEAR-duplicates are recognized across restarts and against the
    historical corpus. Same ordering contract: ``sink(survivors_df,
    batch_id)`` runs before the index append (at-least-once on replay,
    never silent loss). In-batch near-dup pairs are NOT collapsed — the
    index answers only the cross-batch question; run minhash_dedup on a
    batch first if intra-batch fuzziness matters (exact intra-batch
    duplicates DO collapse against each other once the first one is
    marked seen in a prior batch, not within one batch).

    Returns the configured ``DataStreamWriter`` (caller starts it,
    typically ``.trigger(availableNow=True)`` + a checkpoint dir)."""

    def _process(batch_df, batch_id):
        survivors = index.dedup(
            batch_df, id_col=id_col, text_col=text_col, threshold=threshold
        )
        # same barrier rationale as stream_incremental_dedup: both
        # consumers must see one probe result against a mutating index
        survivors = survivors.localCheckpoint(eager=True)
        sink(survivors, batch_id)
        if mark_seen:
            index.add(survivors, id_col=id_col, text_col=text_col)

    return stream_df.writeStream.foreachBatch(_process)


def stream_dedup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming dedup over the events parquet; with a watermark
    wider than the dataset's time span a single availableNow pass removes
    every duplicate, so the distinct key set equals batch/SQL
    ``SELECT DISTINCT keys`` — which is exactly how the oracle checks it."""
    ev = _events_stream(spark, sf_dir)
    out = _run_to_memory(
        streaming_dedup_stream(ev, keys=["user_id", "event_type"]),
        output_mode="append",
    )
    return out.select("user_id", "event_type").orderBy("user_id", "event_type")


def stateful_sessionize_stream(
    events,
    *,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    gap sessionization with BATCH PARITY under late data. State = the list
    of PENDING sessions (start, last, count) — every session whose
    membership the watermark can still change. Each micro-batch folds its
    events (as single-event sessions) into the pending list with one
    sorted gap-merge — the same gaps-and-islands rule batch sessionize
    applies — and emits ONLY sessions the watermark has sealed
    (watermark > session_end + gap, millisecond-truncated exactly like
    Spark's own EventTimeTimeout): no event the watermark still admits can
    ever extend or merge them. Everything else stays in state, emitted by
    event-time timeout once the watermark passes.

    Emitting on gap-split alone (the previous formulation: state = ONE open
    session, split sessions emitted immediately) violates batch parity
    across micro-batches: a late-but-admitted event arriving in a LATER
    batch can extend — or bridge — a session that was already emitted,
    so batch semantics yields one merged session where the stream emitted
    fragments. Holding pending sessions until the watermark seals them is
    the only emission rule a later admitted event can never contradict.

    This is the shape Spark's built-in session_window aggregate can't
    express when per-session custom logic is needed (e.g. emitting
    first/last event ids, per-session sketches) — the north-star 'custom
    stateful operator' path.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType, TimestampType,
    )

    gap_s = _interval_seconds(gap)
    # key column keeps ITS type (a string device id must not be forced
    # through a hardcoded LongType schema)
    key_type = events.schema[key].dataType
    out_schema = StructType(
        [
            StructField("key", key_type),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("starts_us", ArrayType(LongType())),
            StructField("lasts_us", ArrayType(LongType())),
            StructField("ns", ArrayType(LongType())),
        ]
    )

    def fold(key_tuple, pdf_iter, state: GroupState):
        import pandas as pd  # executor-side

        gap_us = gap_s * 1_000_000
        gap_ms = gap_s * 1000
        wm_ms = state.getCurrentWatermarkMs()

        def emit_frame(sessions):
            return pd.DataFrame(
                {
                    "key": [key_tuple[0]] * len(sessions),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in sessions
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in sessions
                    ],
                    "n_events": [c for _, _, c in sessions],
                }
            )

        def sealed(s):
            # ms truncation on the session end mirrors Spark's own
            # watermark/timeout resolution, so the timeout leg of the SQL
            # oracle can reproduce the emission set exactly
            return wm_ms > s[1] // 1000 + gap_ms

        def store(pending):
            state.update(
                (
                    [s for s, _, _ in pending],
                    [l for _, l, _ in pending],
                    [n for _, _, n in pending],
                )
            )
            # fires exactly when the watermark strictly passes the first
            # pending session's seal point; pending => last+gap >= wm, so
            # the timestamp is never behind the current watermark
            state.setTimeoutTimestamp(
                min(l for _, l, _ in pending) // 1000 + gap_ms
            )

        if state.hasTimedOut:
            starts, lasts, ns = state.get
            sessions = sorted(zip(starts, lasts, ns))
            safe = [s for s in sessions if sealed(s)]
            pending = [s for s in sessions if not sealed(s)]
            if pending:
                store(pending)
            else:
                state.remove()
            if safe:
                yield emit_frame(safe)
            return

        times = []
        for pdf in pdf_iter:
            times.append(pdf[ts])
        us = (pd.concat(times).astype("int64") // 1000).tolist()  # ns -> us
        sessions = []
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [[s, l, n] for s, l, n in zip(starts, lasts, ns)]
        sessions.extend([t, t, 1] for t in us)
        sessions.sort()
        # one gaps-and-islands merge over pending + new: sorted by start,
        # a session within gap of the running session's END folds in (late
        # events land INSIDE or BETWEEN pending sessions and can bridge
        # two of them — exactly what batch semantics does with them)
        merged: list = []
        for s in sessions:
            if merged and s[0] - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], s[1])
                merged[-1][2] += s[2]
            else:
                merged.append(list(s))
        safe = [tuple(s) for s in merged if sealed(s)]
        pending = [tuple(s) for s in merged if not sealed(s)]
        if pending:
            store(pending)
        else:
            state.remove()
        if safe:
            yield emit_frame(safe)

    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key))
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _interval_seconds(spec: str) -> int:
    """One duration grammar for the whole engine — streaming and batch
    specs must parse identically (this was a narrower duplicate that
    rejected 'week'/'weeks' and leading whitespace)."""
    from ..operators.timeseries import interval_seconds

    return interval_seconds(spec)


def stream_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming rollup to completion over the events parquet with
    availableNow + a memory sink; returns the final aggregate as a batch
    DataFrame. Reads through ``_events_stream`` so every fixture encoding
    (INT64-nanos or µs timestamp) gets the same normalization + the
    event-time TIMESTAMP cast the watermark requires."""
    ev = _events_stream(spark, sf_dir)
    out = _run_to_memory(windowed_rollup_stream(ev), output_mode="complete")
    # NTZ output: collect() renders LTZ in the DRIVER's OS timezone, which
    # would break the DuckDB-oracle comparison on any non-UTC host; under
    # the UTC session tz the cast is value-preserving.
    return out.select(
        "event_type",
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.round("sum_value", 2).alias("sum_value"),
    )


def stream_enrich(
    events,
    dim: DataFrame,
    *,
    on: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
):
    """Stream-static enrichment join: each micro-batch of the stream joins
    against the (batch) dimension table — the standard shape for decorating
    an event stream with slowly-changing reference data.

    Scale notes: Spark re-plans the static side per micro-batch, so a small
    dimension becomes a broadcast hash join with NO streaming state at all
    (unlike stream-stream joins, nothing is buffered); updates to the
    underlying dim table are picked up on the next micro-batch. ``dim`` is
    projected to the join key + ``dim_cols`` first so only the needed
    columns ship with the broadcast.
    """
    cols = dim_cols if dim_cols is not None else [c for c in dim.columns if c != on]
    # a caller including the join key in dim_cols would otherwise project
    # it twice and fail the equi-join with AMBIGUOUS_REFERENCE
    pruned = dim.select(on, *[c for c in cols if c != on])
    return events.join(pruned, on=on, how=how)


def stream_enrich_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the enrichment over the events stream joined to the customer
    dim on user_id -> c_custkey; equals the batch join (tested)."""
    ev = _events_stream(spark, sf_dir)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("user_name"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    out = _run_to_memory(
        stream_enrich(
            ev.select("event_id", "user_id", "event_type", "value"),
            dim,
            on="user_id",
        ),
        output_mode="append",
    )
    return out


def stream_interval_join(
    left,
    right,
    *,
    on: str,
    ts: str = "ts",
    watermark: str = "1 hour",
    band: str = "5 minutes",
    right_suffix: str = "_r",
):
    """Stream-stream inner join within a time band: left and right events
    with the same key whose timestamps differ by at most ``band``.

    The canonical Structured Streaming interval join: BOTH sides carry a
    watermark and the join condition bounds right's timestamp to a window
    around left's, so Spark can evict buffered rows once the watermark
    passes — state stays O(events within the band per key), not unbounded.
    Without the time bound, a stream-stream inner join would buffer each
    side forever; the band is what makes 100 TB/day streams feasible.
    """
    secs = _interval_seconds(band)
    l = left.withWatermark(ts, watermark).alias("l")
    r_cols = [c for c in right.columns if c != on]
    r = (
        right.select(
            F.col(on),
            *[F.col(c).alias(f"{c}{right_suffix}") for c in r_cols],
        )
        .withWatermark(f"{ts}{right_suffix}", watermark)
        .alias("r")
    )
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{ts}{right_suffix}") >= F.col(f"l.{ts}") - F.expr(f"interval {secs} seconds"))
        & (F.col(f"r.{ts}{right_suffix}") <= F.col(f"l.{ts}") + F.expr(f"interval {secs} seconds"))
    )
    return l.join(r, cond, "inner").drop(F.col(f"r.{on}"))


def stream_interval_join_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the interval join: purchases joined to clicks by the same user
    within 5 minutes — the attribution-window query — as two filtered
    aliases of ONE events stream (a single source listing; the join's two
    sides still watermark independently); equals the batch range join
    (tested)."""
    ev = _events_stream(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    joined = stream_interval_join(
        purchases, clicks, on="user_id", ts="ts", watermark="10 days", band="5 minutes"
    )
    out = _run_to_memory(joined, output_mode="append")
    # NTZ timestamps for driver-tz-independent comparison (see
    # stream_rollup_once); value-preserving under the UTC session tz.
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_id_r",
        F.col("ts_r").cast("timestamp_ntz").alias("ts_r"),
    )


def stream_distinct_rollup(
    events,
    *,
    ts: str = "ts",
    keys: list[str] | None = None,
    bucket: str = "1 hour",
    distinct_col: str = "user_id",
    watermark: str = "1 day",
    rsd: float = 0.02,
):
    """Windowed approximate-distinct rollup on a stream: per (bucket, keys),
    an HLL++ approx_count_distinct of ``distinct_col``.

    EXACT streaming distinct counting needs per-key distinct state (all
    ids seen per open window); the sketch keeps state at a fixed few KB per
    group regardless of cardinality — the only viable shape for
    billion-user streams. HLL merges are commutative and deterministic, so
    the availableNow result equals the same aggregation run as a batch
    (tested), and the watermark bounds which windows stay open.
    """
    # `keys or [...]` would silently turn an EXPLICIT empty list (a global
    # per-bucket rollup) into the default per-event_type grouping — only
    # None means "use the default"
    keys = ["event_type"] if keys is None else list(keys)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), bucket).alias("w"), *keys)
        .agg(F.approx_count_distinct(distinct_col, rsd).alias("nd"))
        .select(F.col("w.start").alias("bucket"), *keys, "nd")
    )


def stream_distinct_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the approx-distinct rollup over the events stream to
    completion; equals the batch formulation (pytest)."""
    out = _run_to_memory(
        stream_distinct_rollup(_events_stream(spark, sf_dir)),
        output_mode="complete",
    )
    return out.select(
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        "event_type",
        F.col("nd").cast("long").alias("nd"),
    )


def stream_heavy_hitters(
    stream_df,
    *,
    item: str,
    keys: "list[str] | None" = None,
    k: int = 64,
    state_path: str,
):
    """Cross-batch bounded-state heavy hitters: each micro-batch is
    summarized with partition-local Misra-Gries
    (:func:`~mortar_parquet_support_spark.operators.sketches.mg_rollup`),
    merged with the persisted running summary
    (:func:`~...sketches.mg_reaggregate` — the window-expressed MG trim),
    and written back. State is <= k rows per key FOREVER, whatever the
    stream's item cardinality — the property neither an exact streaming
    groupBy (unbounded state) nor a watermarked one (forgets old items)
    gives. Mergeable-summaries algebra makes the result independent of
    batch boundaries up to the standard MG bound; with k >= true distinct
    count the final state is EXACT (the oracle-checked regime).

    The state round-trips through the driver each batch — bounded by
    contract at keys x k rows (the same small-by-contract shape as
    DigestIndex Bloom segments), which sidesteps reading and overwriting
    one parquet path inside a single job. Returns the configured
    ``DataStreamWriter`` (caller starts it with a checkpoint +
    availableNow). At-least-once caveat: a crash between the state write
    and the checkpoint commit replays the batch into the merged summary,
    which can overcount replayed items by one batch's worth — acceptable
    for a ranking signal; exact pipelines use the batch operator."""
    from mortar_parquet_support_spark.operators.sketches import (
        mg_reaggregate,
        mg_rollup,
    )

    keys = list(keys or [])

    staged_path = state_path.rstrip("/") + ".staged"

    def _read_state(spark):
        """The live state, falling back to the STAGED copy when the live
        dir is missing: the state swap below is write-staged / delete-live
        / rename-staged-in, and a crash between the delete and the rename
        must surface the staged copy rather than silently restarting
        every counter from zero (review r14 — mode('overwrite') straight
        onto the live path had exactly that window). Reading the staged
        copy during a replayed batch can overcount by one batch's worth,
        which is this sink's documented at-least-once caveat, never a
        reset."""
        from pyspark.errors import AnalysisException

        for path in (state_path, staged_path):
            try:
                return spark.read.parquet(path)
            except AnalysisException as e:
                # ONLY the path-not-found error class means "no state" —
                # an empty/partially-written dir ("unable to infer
                # schema") or a schema-mismatched one also raises
                # AnalysisException, and swallowing those would silently
                # restart every counter from zero (ADVICE r9).
                cond = (
                    e.getCondition()
                    if hasattr(e, "getCondition")
                    else e.getErrorClass()
                )
                if cond != "PATH_NOT_FOUND":
                    raise
        return None

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        summary = mg_rollup(batch_df, item=item, keys=keys, k=k)
        prev = _read_state(spark)
        if prev is not None:
            summary = summary.unionByName(prev)
        merged = mg_reaggregate(summary, group_cols=keys)
        rows = merged.collect()  # <= keys x k rows by construction
        from mortar_parquet_support_spark.functions import tiny_frame
        from mortar_parquet_support_spark.sources.publish import _fs

        # single-slice driver frame, NOT createDataFrame(...).coalesce(1):
        # the coalesce pulls 32 python-RDD partitions through one task's
        # serial worker round-trips, ~3-6 s per micro-batch for <= keys x k
        # rows (measured, tools/bench_streaming.py r12).
        # Stage-then-swap, never overwrite-in-place: overwrite deletes the
        # live state before the new files commit, and a crash inside that
        # window looked exactly like "first batch" on restart (the silent
        # zero-reset the PATH_NOT_FOUND guard was supposed to prevent).
        tiny_frame(spark, rows, merged.schema).write.mode(
            "overwrite"
        ).parquet(staged_path)
        _jvm, fs, P = _fs(spark, state_path)
        fs.delete(P(state_path), True)
        if not fs.rename(P(staged_path), P(state_path)):
            raise RuntimeError(
                f"heavy-hitter state swap failed: {staged_path} -> "
                f"{state_path} (staged copy intact)"
            )

    return stream_df.writeStream.foreachBatch(_process)


def stream_heavy_hitters_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming heavy hitters over the events parquet
    (availableNow) and return the final persisted summary. k=16 exceeds
    the fixture's event_type cardinality, so the result provably equals
    exact GROUP BY counts — the oracle's check."""
    import tempfile

    state = tempfile.mkdtemp(prefix="mortar_mg_state_") + "/state"
    ckpt = tempfile.mkdtemp(prefix="mortar_mg_ckpt_")
    ev = _events_stream(spark, sf_dir).filter(F.col("event_type").isNotNull())
    q = (
        stream_heavy_hitters(
            ev, item="event_type", keys=[], k=16, state_path=state
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state).select("item", "cnt", "k")


def stream_drift_monitor(
    stream_df,
    *,
    value: str,
    ref_lo: float,
    ref_hi: float,
    ref_props: "list[float]",
    out_path: str,
    epsilon: float = 1e-4,
    round_to: int = 6,
):
    """Per-micro-batch distribution-drift monitor — the streaming leg of
    :func:`~mortar_parquet_support_spark.operators.profile.psi_drift`:
    every batch's ``value`` distribution is binned on the FROZEN
    reference grid (``ref_lo``/``ref_hi``/``ref_props`` — compute once
    from the reference snapshot with ``histogram``/``psi_drift`` and
    pass the proportions) and its PSI appended to ``out_path`` as
    (``batch_id``, ``psi``, ``n``) — the live "did the feed move?"
    signal a training-data intake runs alongside ingestion.

    The reference is deliberately a frozen argument, not a re-read
    table: drift is measured AGAINST A PINNED BASELINE; silently
    re-deriving it each batch would let slow drift re-baseline itself
    invisible. Same PSI arithmetic as the batch operator (edge-bin
    clamping for out-of-range values, epsilon smoothing, 1e-6 rounds);
    an empty batch appends (batch_id, NULL, 0) rather than faking a 0.
    Append-only output: at-least-once replay after a crash can repeat a
    batch_id — readers take the LAST row per batch_id. Returns the
    ``DataStreamWriter`` (caller starts it with a checkpoint)."""
    import math as _math

    bins = len(ref_props)
    if bins < 1:
        raise ValueError("ref_props must have at least one bin")
    if any(not (p >= 0 and _math.isfinite(p)) for p in ref_props):
        # a negative/NaN/inf proportion is a caller bug; the epsilon
        # branch would silently absorb the first two into a corrupt PSI
        # and an inf would crash _round_half_up mid-stream (review r11)
        raise ValueError("ref_props must be finite and non-negative")
    import math as _m

    if not (_m.isfinite(ref_lo) and _m.isfinite(ref_hi)):
        raise ValueError("ref_lo/ref_hi must be finite")
    # a CONSTANT reference (hi <= lo) is a legal single-bin grid — the
    # batch psi_drift and the per-key stream_drift_monitor_by both accept
    # it (review r11 fixed this exact wiring-time crash in the sibling;
    # review r14 aligned this leg): equi_bin puts everything in bin 0.

    def _process(batch_df, batch_id):
        from mortar_parquet_support_spark.operators.profile import equi_bin

        spark = batch_df.sparkSession
        v = F.col(value).cast("double")
        # THE shared bin expression (profile.equi_bin) — the hand-rolled
        # floor/clamp copy here had already diverged from the batch leg
        # on the constant-range guard (review r14)
        b = equi_bin(v, F.lit(float(ref_lo)), F.lit(float(ref_hi)), bins)
        counts = {
            r["bin"]: r["n"]
            for r in batch_df.filter(v.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bins-bounded by construction
        }
        n = sum(counts.values())
        if n == 0:
            psi = None
        else:
            import math

            psi = 0.0
            for i, p in enumerate(ref_props):
                # round FIRST, epsilon on the rounded value — exactly the
                # batch psi_drift order. Checking p > 0 before rounding
                # let a tiny-but-nonzero proportion round to 0.0 and
                # math.log(0) crash the query (review r10). Rounding is
                # HALF_UP (not Python round()'s half-even) so a
                # proportion landing exactly on a half matches the batch
                # psi_drift's F.round semantics bit-for-bit (review r11).
                p_r = _round_half_up(p, round_to)
                q_r = _round_half_up(counts.get(i, 0) / n, round_to)
                p_s = p_r if p_r > 0 else epsilon
                q_s = q_r if q_r > 0 else epsilon
                psi += (p_s - q_s) * math.log(p_s / q_s)
            psi = _round_half_up(psi, round_to)
        from mortar_parquet_support_spark.functions import tiny_frame

        # single-slice frame, not coalesce(1) — see stream_heavy_hitters
        tiny_frame(
            spark,
            [(int(batch_id), psi, int(n))],
            "batch_id long, psi double, n long",
        ).write.mode("append").parquet(out_path)

    return stream_df.writeStream.foreachBatch(_process)


def stream_drift_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming drift monitor over the events value stream
    (availableNow) against a reference grid computed from the first
    half of the table (event_id below the median — a deterministic
    'yesterday's snapshot'), and return the per-batch PSI rows."""
    import tempfile

    from mortar_parquet_support_spark.tables import read_events_raw

    ev = read_events_raw(spark, sf_dir)
    mid = ev.agg(
        F.percentile_approx("event_id", 0.5, 10000)
    ).first()[0]
    v = F.col("value").cast("double")
    ref = ev.filter((F.col("event_id") <= mid) & v.isNotNull())
    b = ref.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).first()
    lo, hi = float(b["lo"]), float(b["hi"])
    bins = 10
    from mortar_parquet_support_spark.operators.profile import equi_bin

    bin_col = equi_bin(v, F.lit(lo), F.lit(hi), bins)
    counts = {
        r["bin"]: r["n"]
        for r in ref.groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    t = sum(counts.values())
    props = [counts.get(i, 0) / t for i in range(bins)]

    out_dir = tempfile.mkdtemp(prefix="mortar_drift_out_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="mortar_drift_ckpt_")
    q = (
        stream_drift_monitor(
            _events_stream(spark, sf_dir),
            value="value",
            ref_lo=lo,
            ref_hi=hi,
            ref_props=props,
            out_path=out_dir,
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("batch_id", "psi", "n")


def stream_drift_monitor_by(
    stream_df,
    *,
    key: str,
    value: str,
    ref_grids: "dict",
    out_path: str,
    epsilon: float = 1e-4,
    round_to: int = 6,
):
    """Per-KEY streaming drift — the grouped sibling of
    :func:`stream_drift_monitor`, completing the monitoring family the
    way :func:`~mortar_parquet_support_spark.operators.profile.
    psi_drift_by` completes ``psi_drift`` on the batch side: every
    micro-batch, each ``key`` group present in the batch is binned on
    ITS OWN frozen reference grid and its PSI appended to ``out_path``
    as (``batch_id``, key, ``psi``, ``n``).

    ``ref_grids`` maps each reference group's key value to
    ``(lo, hi, props)`` — compute once from the reference snapshot
    (e.g. ``psi_drift_by``'s bounds + proportions, or histogram) and
    pass FROZEN, for the same reason the global monitor takes a frozen
    grid: slow drift must never re-baseline itself invisible. Groups
    the reference never saw have no baseline to drift FROM and are
    ignored (``categorical_drift`` on the key column is the arrival
    detector — the batch-side contract). NULL-keyed rows are excluded
    the same way (an equi-join against the grids frame could never
    match them; the explicit filter makes that loud rather than
    incidental). Groups in the grids but ABSENT
    from a batch emit nothing for that batch: a feed that sent zero
    rows has no distribution to compare (the per-key analogue of the
    global monitor's NULL-for-empty rule; readers distinguish "no
    drift" from "no data" by the gap in batch_ids). A CONSTANT-valued
    reference group (hi <= lo) is valid: everything bins to 0 on both
    sides — psi_drift_by's documented single-bin behavior, shared via
    the one ``equi_bin`` expression all three drift legs now use.

    Arithmetic per present group is exactly the batch operator's: edge
    bins clamp out-of-range values, proportions and the statistic round
    HALF_UP (``_round_half_up`` — matching Spark/DuckDB F.round
    semantics, review r11) at ``round_to``, zero-proportion bins take
    ``epsilon`` before the log. Append-only at-least-once output like
    the global monitor — readers take the LAST row per (batch_id, key).

    Scale shape: the batch side is ONE broadcast join against the
    model-sized grids frame + one (key, bin) count aggregate; the
    driver collect is groups x bins bounded by construction. Returns
    the ``DataStreamWriter`` (caller starts it with a checkpoint)."""
    import math

    from mortar_parquet_support_spark.operators.profile import equi_bin

    grids: "dict" = {}
    for k, (lo, hi, props) in ref_grids.items():
        if len(props) < 1:
            raise ValueError(f"ref_grids[{k!r}] has no bins")
        if any(not (p >= 0 and math.isfinite(p)) for p in props):
            # same loud-reject as the global monitor: the epsilon branch
            # would silently absorb a negative/NaN proportion, and an
            # infinite one would crash _round_half_up mid-stream with a
            # cryptic decimal.InvalidOperation (review r11)
            raise ValueError(
                f"ref_grids[{k!r}]: props must be finite and non-negative"
            )
        # hi <= lo (a constant-valued reference group) is VALID, not an
        # error: equi_bin puts everything in bin 0 on both sides, which
        # is exactly psi_drift_by's documented constant-group behavior —
        # rejecting it here crashed monitors at wiring time for any
        # reference with one constant group (review r11)
        grids[k] = (float(lo), float(hi), [float(p) for p in props])
    if not grids:
        raise ValueError("ref_grids must name at least one group")
    grid_rows = [(k, lo, hi, len(props)) for k, (lo, hi, props) in grids.items()]
    # key type is knowable at wiring (and so are schema errors); the
    # tiny grids frame itself is built once per session inside _process
    # (foreachBatch can hand a different session than the wiring one)
    key_type = stream_df.schema[key].dataType.simpleString()
    grid_schema = f"`{key}` {key_type}, __lo double, __hi double, __nb int"
    gdf_cache: "dict" = {}

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        gdf = gdf_cache.get(id(spark))
        if gdf is None:
            from mortar_parquet_support_spark.functions import tiny_frame

            gdf = tiny_frame(spark, grid_rows, grid_schema)
            gdf_cache[id(spark)] = gdf
        v = F.col(value).cast("double")
        b = equi_bin(v, F.col("__lo"), F.col("__hi"), F.col("__nb"))
        counts: "dict" = {}
        for r in (
            batch_df.filter(v.isNotNull() & F.col(key).isNotNull())
            .join(F.broadcast(gdf), key)
            .groupBy(F.col(key).alias("__k"), b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # groups x bins bounded by construction
        ):
            counts.setdefault(r["__k"], {})[r["bin"]] = r["n"]
        rows = []
        for k, bins_seen in counts.items():
            props = grids[k][2]
            n = sum(bins_seen.values())
            psi = 0.0
            for i, p in enumerate(props):
                p_r = _round_half_up(p, round_to)
                q_r = _round_half_up(bins_seen.get(i, 0) / n, round_to)
                p_s = p_r if p_r > 0 else epsilon
                q_s = q_r if q_r > 0 else epsilon
                psi += (p_s - q_s) * math.log(p_s / q_s)
            rows.append((int(batch_id), k, _round_half_up(psi, round_to), n))
        if rows:
            from mortar_parquet_support_spark.functions import tiny_frame

            # single-slice frame, not coalesce(1) — see stream_heavy_hitters
            tiny_frame(
                spark,
                rows,
                f"batch_id long, `{key}` {key_type}, psi double, n long",
            ).write.mode("append").parquet(out_path)

    return stream_df.writeStream.foreachBatch(_process)


def stream_drift_by_once(
    spark: SparkSession,
    sf_dir: str,
    *,
    reader_options: "dict | None" = None,
) -> DataFrame:
    """Drive the per-key streaming drift monitor over the events stream
    (availableNow) against per-event_type frozen grids computed from the
    first half of the table (event_id below the median — the same
    'yesterday's snapshot' recipe as stream_drift_once), and return the
    per-(batch, event_type) PSI rows. ``reader_options`` feeds the file
    source (the cadence bench passes maxFilesPerTrigger to force many
    micro-batches)."""
    import tempfile

    from mortar_parquet_support_spark.tables import read_events_raw

    ev = read_events_raw(spark, sf_dir)
    mid = ev.agg(F.percentile_approx("event_id", 0.5, 10000)).first()[0]
    v = F.col("value").cast("double")
    ref = ev.filter(
        (F.col("event_id") <= mid) & v.isNotNull()
        & F.col("event_type").isNotNull()
    )
    bins = 10
    # grids for ALL groups in TWO jobs (bounds, then per-(group, bin)
    # counts with the bounds broadcast back) — never a driver loop of
    # one job per group, the anti-pattern psi_drift_by exists to avoid
    # (this entry glue should model the same discipline; review r11)
    from mortar_parquet_support_spark.operators.profile import equi_bin

    bounds = ref.groupBy("event_type").agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    bcol = equi_bin(v, F.col("__lo"), F.col("__hi"), bins)
    counts: "dict" = {}
    lohi: "dict" = {}
    for r in (
        ref.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", bcol.alias("bin"), "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # groups x bins bounded
    ):
        counts.setdefault(r["event_type"], {})[r["bin"]] = r["n"]
        lohi[r["event_type"]] = (float(r["__lo"]), float(r["__hi"]))
    grids = {}
    for k, per_bin in counts.items():
        t = sum(per_bin.values())
        grids[k] = (
            *lohi[k],
            [per_bin.get(i, 0) / t for i in range(bins)],
        )

    out_dir = tempfile.mkdtemp(prefix="mortar_driftby_out_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="mortar_driftby_ckpt_")
    q = (
        stream_drift_monitor_by(
            _events_stream(spark, sf_dir, reader_options=reader_options).filter(
                F.col("event_type").isNotNull()
            ),
            key="event_type",
            value="value",
            ref_grids=grids,
            out_path=out_dir,
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "batch_id", "event_type", "psi", "n"
    )


def stream_validate_gate(
    stream_df,
    *,
    rules: "list[dict]",
    out_path: str,
):
    """Per-micro-batch expectations gate — the streaming leg of
    :func:`~mortar_parquet_support_spark.operators.validate.
    validate_expectations`, completing the quality family the way
    stream_drift_monitor completes psi_drift: every batch runs the SAME
    declared rules (same one-scan row-level fold, same bounded
    unique / foreign-key jobs) and appends its violations report to
    ``out_path`` as (``batch_id``, ``rule``, ``n_violations``) — the
    live "is the feed clean?" signal an intake pipeline tails to decide
    promote / quarantine per batch. Rules are validated ONCE up front
    (empty list, duplicate or injectable names fail at wiring time, not
    in batch 37); ``foreign_key`` rules may reference a static
    DataFrame — each batch probes it with the usual bounded anti-join.

    An EMPTY batch still appends its report (all rules, 0 violations):
    an empty drop is trivially clean, and the row distinguishes
    "checked, clean" from "monitor wasn't running". Enforcement policy
    stays with the caller (tail the report; the operator never drops
    rows) — gating and routing are deployment decisions, not operator
    semantics. Append-only at-least-once output like the drift
    monitors — readers take the LAST rows per batch_id.

    Scale shape: identical to the batch operator per micro-batch; the
    report is rules-count rows, always driver-safe. Returns the
    ``DataStreamWriter`` (caller starts it with a checkpoint)."""
    from mortar_parquet_support_spark.operators.validate import (
        validate_expectations,
        validate_rule_specs,
    )

    if not rules:
        raise ValueError("stream_validate_gate needs at least one rule")
    # the FULL static validation (names, injection characters, known
    # types, per-type required fields), not just emptiness/duplicates —
    # a bad rule must fail HERE, not as an async
    # StreamingQueryException inside batch 0 (review r11)
    validate_rule_specs(rules)

    def _process(batch_df, batch_id):
        report = validate_expectations(batch_df, rules)
        out = report.select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.col("rule"),
            F.col("n_violations").cast("long").alias("n_violations"),
        )
        # the report is rules-count rows by contract: land it as ONE
        # driver-built single-slice frame (one file, one task) instead of
        # a coalesce(1) pull of every report partition
        from mortar_parquet_support_spark.functions import tiny_frame

        tiny_frame(
            batch_df.sparkSession,
            [(r["batch_id"], r["rule"], r["n_violations"]) for r in out.collect()],
            "batch_id long, rule string, n_violations long",
        ).write.mode("append").parquet(out_path)

    return stream_df.writeStream.foreachBatch(_process)


def stream_validate_once(
    spark: SparkSession,
    sf_dir: str,
    *,
    reader_options: "dict | None" = None,
) -> DataFrame:
    """Drive the streaming expectations gate over the events stream
    (availableNow) with three representative rules and return the
    per-(batch, rule) violation counts. ``reader_options`` feeds the file
    source (the cadence bench passes maxFilesPerTrigger)."""
    import tempfile

    rules = [
        {"name": "event_id_not_null", "type": "not_null",
         "column": "event_id"},
        # bounds chosen so the fixture yields NONZERO violations — a
        # gate whose witnessed output is all zeros proves nothing
        {"name": "value_range", "type": "range", "column": "value",
         "min": 0.0, "max": 50.0},
        {"name": "type_known", "type": "in_set", "column": "event_type",
         "values": ["click", "view", "purchase", "scroll", "hover"]},
    ]
    out_dir = tempfile.mkdtemp(prefix="mortar_svalid_out_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="mortar_svalid_ckpt_")
    q = (
        stream_validate_gate(
            _events_stream(spark, sf_dir, reader_options=reader_options),
            rules=rules,
            out_path=out_dir,
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "batch_id", "rule", "n_violations"
    )
