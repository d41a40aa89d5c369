"""Timeseries operators over the lake (and any (key, time, value) table).

The reference has NO aggregation/window layer (SURVEY.md §2.6) — typical
Mortar analyses do resampling/rollups client-side in pandas. These operators
provide that layer engine-side, Spark-first, each designed so its shuffle
structure survives a 100 TB lake:

- every operator shuffles AT MOST ONCE, on the stream key (plus coarse time
  bucket where noted), never on raw rows twice;
- as-of join is a union + one window, not a per-row range probe — the classic
  distributed formulation (one shuffle of both sides together, no skewed
  range-join explosion);
- gap-fill generates grids with ``sequence``/``explode`` JVM-side — no
  driver loops, no Python in the hot path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def interval_seconds(spec: str) -> int:
    """'15 minutes' -> 900. Spark can't extract(epoch FROM interval); parse
    the small duration grammar driver-side instead."""
    amount, unit = spec.strip().split()
    return int(amount) * _UNIT_SECONDS[unit.lower()]


def _epoch(c: Column) -> Column:
    """Epoch seconds for both TIMESTAMP and TIMESTAMP_NTZ columns (NTZ can't
    cast to numeric). Second granularity — gap/tolerance/bucket arithmetic
    here is whole-second."""
    return F.unix_timestamp(c)


def _orderable_type(dt) -> bool:
    """Whether Spark can ORDER BY a column of this type (maps cannot;
    arrays/structs are orderable iff their element/field types are)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable_type(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable_type(f.dataType) for f in dt.fields)
    return True


def time_bucket_rollup(
    df: DataFrame,
    *,
    ts: str = "time",
    keys: Sequence[str] = ("uuid",),
    bucket: str = "15 minutes",
    aggs: dict[str, str] | None = None,
    value: str = "value",
) -> DataFrame:
    """Hypertable-style rollup: per key, per fixed time bucket, aggregate.

    One shuffle on (keys, bucket); partial aggregation is map-side because
    ``groupBy`` over built-in aggs compiles to hash-aggregate with a partial
    phase. Output bucket column is the window start (epoch-aligned).
    """
    # None-sentinel, not falsy: an EXPLICIT empty dict must surface the
    # caller's mistake via agg()'s zero-exprs error, not silently fall
    # back to the defaults (same rule as stream_distinct_rollup's keys)
    if aggs is None:
        aggs = {"avg": "avg", "min": "min", "max": "max", "count": "count"}
    win = F.window(F.col(ts), bucket)
    exprs = [getattr(F, fn)(value).alias(name) for name, fn in aggs.items()]
    return (
        df.groupBy(*keys, win.alias("w"))
        .agg(*exprs)
        .withColumn("bucket", F.col("w.start"))
        .drop("w")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    ts: str = "time",
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` (direction='backward'; 'forward' mirrors it;
    'nearest' takes whichever side is closer, ties backward — full
    ``pd.merge_asof`` direction parity), per ``on`` key.

    Distributed formulation: tag both sides, union, ONE window sorted by
    (ts, side) per key, and carry the last non-null right value forward with
    ``last(..., ignorenulls=True)``. Exactly one shuffle (the window's),
    both sides co-partitioned by the same key — no range-join blowup, no
    per-key pandas. Ties (equal ts): the right row sorts first, so a
    same-timestamp right row IS visible to the left row, matching
    ``pd.merge_asof``'s default. Multiple right rows sharing one
    (key, ts) match deterministically: the greatest by value struct
    (pandas' "last by input order" has no distributed analog).

    ``tolerance`` (e.g. ``'1 hour'``) drops matches older than the window.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward', or 'nearest'")
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*on, ts)]
    right_cols = list(right_cols)  # explicit [] means: only matched_ts

    # right columns travel under collision-proof internal names so a right
    # column that also exists on the left (supported; surfaced as right_<c>)
    # can't duplicate a name inside the union frame
    rc = {c: f"__rc_{c}" if c in left.columns else c for c in right_cols}

    lhs = left.withColumn("__side", F.lit(1))
    # NULL-ts right rows can never be "as of" anything — unfiltered, the
    # backward window's ASC NULLS FIRST ordering would carry such a row's
    # struct into every left row before the first real match, fabricating
    # a match with matched_ts NULL (review r14; pd.merge_asof REJECTS
    # NULL keys outright). NULL-ts LEFT rows stay (left-join semantics)
    # and are forced to no-match below.
    rhs = right.filter(F.col(ts).isNotNull()).select(
        *on,
        F.col(ts),
        *[F.col(c).alias(rc[c]) for c in right_cols],
    ).withColumn("__side", F.lit(0))
    for c in left.columns:
        if c not in (*on, ts) and c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    for c in right_cols:
        if rc[c] not in lhs.columns:
            lhs = lhs.withColumn(rc[c], F.lit(None).cast(right.schema[c].dataType))
    cols = [
        *on,
        ts,
        *[c for c in left.columns if c not in (*on, ts)],
        *[rc[c] for c in right_cols],
        "__side",
    ]
    unioned = lhs.select(*cols).unionByName(rhs.select(*cols))

    def _dir_cols(d: str) -> list:
        """Carried-forward right values + matched ts for one direction,
        suffixed __<b|f>. Both directions window over the SAME partition
        key, so 'nearest' reuses one exchange with two sorts."""
        order = [
            F.col(ts).asc() if d == "backward" else F.col(ts).desc(),
            F.col("__side").asc(),
        ]
        # multiple RIGHT rows sharing one (key, ts) would otherwise be
        # unordered window peers, and last() would match whichever the
        # shuffle happened to place last — run-to-run nondeterminism.
        # pandas' "last by input order" has no distributed analog, so
        # the documented rule here is: greatest by value struct — over the
        # ORDERABLE right columns only (a map-typed column in the sort
        # struct fails analysis; determinism is then guaranteed only up to
        # the orderable fields, which is the best any engine can promise).
        tie_cols = [
            rc[c]
            for c in right_cols
            if _orderable_type(right.schema[c].dataType)
        ]
        if tie_cols:
            order.append(F.struct(*[F.col(c) for c in tie_cols]).asc())
        w = Window.partitionBy(*on).orderBy(*order)
        sfx = "b" if d == "backward" else "f"
        # ONE struct per right row — non-null for every right row even when
        # its value fields are null — so all carried columns come from the
        # SAME matched row and a null right value is returned as null
        # (pd.merge_asof parity), instead of each column independently
        # skipping back to its own last non-null (which mixed fields from
        # different rows and conflated null values with left-row gaps).
        carried = F.last(
            F.when(
                F.col("__side") == 0,
                F.struct(
                    F.col(ts).alias("__mts"),
                    *[F.col(rc[c]).alias(rc[c]) for c in right_cols],
                ),
            ),
            ignorenulls=True,
        ).over(w)
        picked = [carried[rc[c]].alias(f"__r{sfx}_{c}") for c in right_cols]
        mts = carried["__mts"].alias(f"__rts_{sfx}")
        return [*picked, mts]

    dirs = ["backward", "forward"] if direction == "nearest" else [direction]
    sel: list = ["*"]
    for d in dirs:
        sel.extend(_dir_cols(d))
    out = unioned.select(*sel).filter(F.col("__side") == 1)

    # tolerance via seconds arithmetic (portable; interval casts differ).
    # Every per-column transformation below lands in ONE projection
    # (withColumns / a single select) — the previous per-column
    # withColumn chains stacked O(right_cols) Project nodes per stage,
    # inflating analyzer time quadratically on wide right sides.
    tol_secs = F.lit(interval_seconds(tolerance)) if tolerance is not None else None
    deltas = {}
    for d in dirs:
        sfx = "b" if d == "backward" else "f"
        delta = _epoch(F.col(ts)) - _epoch(F.col(f"__rts_{sfx}"))
        if d == "forward":
            delta = -delta
        deltas[sfx] = delta
    if tol_secs is not None:
        repl = {}
        for d in dirs:
            sfx = "b" if d == "backward" else "f"
            keep = (
                F.col(f"__rts_{sfx}").isNotNull()
                & (deltas[sfx] <= tol_secs)
                & (deltas[sfx] >= 0)
            )
            for c in right_cols:
                repl[f"__r{sfx}_{c}"] = F.when(keep, F.col(f"__r{sfx}_{c}"))
            repl[f"__rts_{sfx}"] = F.when(keep, F.col(f"__rts_{sfx}"))
        out = out.withColumns(repl)

    # a NULL-ts LEFT row has no position on the as-of axis: whatever the
    # window carried to it (forward's DESC ordering puts such rows LAST,
    # where they'd see the final right row) is not a match (review r14)
    left_has_ts = F.col(ts).isNotNull()
    if direction == "nearest":
        # pick whichever side is closer; ties go backward (pandas default)
        choose_b = F.col("__rts_b").isNotNull() & (
            F.col("__rts_f").isNull() | (deltas["b"] <= deltas["f"])
        )
        merged = {
            f"__r_{c}": F.when(
                left_has_ts,
                F.when(choose_b, F.col(f"__rb_{c}")).otherwise(
                    F.col(f"__rf_{c}")
                ),
            )
            for c in right_cols
        }
        merged["__r_ts"] = F.when(
            left_has_ts,
            F.when(choose_b, F.col("__rts_b")).otherwise(F.col("__rts_f")),
        )
        out = out.withColumns(merged).drop(
            *[f"__rb_{c}" for c in right_cols],
            *[f"__rf_{c}" for c in right_cols],
            "__rts_b",
            "__rts_f",
        )
    else:
        sfx = "b" if direction == "backward" else "f"
        merged = {
            f"__r_{c}": F.when(left_has_ts, F.col(f"__r{sfx}_{c}"))
            for c in right_cols
        }
        merged["__r_ts"] = F.when(left_has_ts, F.col(f"__rts_{sfx}"))
        out = out.withColumns(merged).drop(
            *[f"__r{sfx}_{c}" for c in right_cols], f"__rts_{sfx}"
        )
    # drop the NULL placeholders that only existed to align the union, then
    # surface the windowed right values under their real names — one select.
    # matched_ts disambiguates when the LEFT already carries one (chained
    # asof_join output): right_matched_ts, right_right_matched_ts, ...
    mts_name = "matched_ts"
    while mts_name in left.columns:
        mts_name = "right_" + mts_name
    renames = {}
    for c in right_cols:
        target = f"right_{c}" if c in left.columns else c
        if target != c and target in left.columns:
            # right_<c> already taken (a chained asof_join output) —
            # emitting it anyway would duplicate the name and poison
            # every downstream select with AMBIGUOUS_REFERENCE
            # (review r14; matched_ts walks, value columns reject loudly)
            raise ValueError(
                f"asof_join output column {target!r} collides with an "
                f"existing left column — rename {target!r} on the left "
                f"(or {c!r} on the right) first"
            )
        renames[f"__r_{c}"] = target
    renames["__r_ts"] = mts_name
    drop = {rc[c] for c in right_cols} | {"__side"}
    return out.select(
        *[
            F.col(c).alias(renames.get(c, c))
            for c in out.columns
            if c not in drop
        ]
    )


def sessionize(
    df: DataFrame,
    *,
    ts: str = "time",
    keys: Sequence[str] = ("uuid",),
    gap: str = "30 minutes",
) -> DataFrame:
    """Assign session ids per key: a new session starts when the gap from
    the previous event exceeds ``gap``. One shuffle (the per-key window);
    session id = cumulative count of gap-breaks, deterministic."""
    w = Window.partitionBy(*keys).orderBy(ts)
    gap_secs = F.lit(interval_seconds(gap))
    prev = F.lag(F.col(ts)).over(w)
    is_break = (
        prev.isNull() | ((_epoch(F.col(ts)) - _epoch(prev)) > gap_secs)
    ).cast("long")
    return df.withColumn("session_id", F.sum(is_break).over(w))


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    *,
    ts: str = "ts",
    user: str = "user_id",
    event_type: str = "event_type",
    within: str | None = None,
) -> DataFrame:
    """Sequential-conversion funnel: per user, ``t_<step_i>`` is the
    earliest step-i event at-or-after ``t_<step_{i-1}>`` (ties at equal
    timestamps count as in-order), all steps optionally constrained to
    ``within`` of the first step. Output: (user, t_<step> per step,
    n_steps) — one row per user present in ``df``, nulls past the last
    completed step.

    Shape: the classic k-pass formulation is k self-joins (one shuffle
    each). This is instead ONE shuffle: chained running-min windows over
    the same (user, ts-range) frame — step i's candidate marker needs
    only "has some valid step-(i-1) happened at ts' <= ts", which is
    exactly a RANGE-frame running min of the previous marker (the default
    frame of an orderBy window, so peers at the same timestamp are
    included = the >= tie rule). The running min at any row provably
    equals the global sequential t_{i-1} whenever non-null, so the final
    per-user min of each marker reproduces the join-chain semantics
    bit-for-bit. The k dependent Window operators share one partitioning
    and sort, and the closing groupBy reuses the same hash partitioning —
    Catalyst plans a single exchange for the whole funnel."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    w = Window.partitionBy(user).orderBy(ts)  # default frame: RANGE ..current
    out = df.select(user, ts, event_type)
    run_prev = None
    for i, step in enumerate(steps):
        cond = F.col(event_type) == F.lit(step)
        if i == 0:
            # NULL users: window partitioning groups all NULLs together,
            # but the join-chain semantics this reproduces (and the SQL
            # oracle) never match NULL keys — blocking step 1 blocks the
            # whole chain, so the NULL-user row reports n_steps = 0 in
            # both formulations instead of fabricating conversions from
            # unrelated anonymous events.
            cond = cond & F.col(user).isNotNull()
        if i > 0:
            cond = cond & run_prev.isNotNull()
            if within is not None:
                # full-precision timestamp arithmetic (works for TIMESTAMP
                # and NTZ alike) — _epoch would truncate sub-second parts
                # and diverge from an engine comparing raw timestamps
                cond = cond & (
                    F.col(ts)
                    <= F.col("_run_0")
                    + F.expr(f"INTERVAL {interval_seconds(within)} SECOND")
                )
        out = out.withColumn(f"_val_{i}", F.when(cond, F.col(ts)))
        out = out.withColumn(f"_run_{i}", F.min(f"_val_{i}").over(w))
        run_prev = F.col(f"_run_{i}")
    aggs = [
        F.min(f"_val_{i}").alias(f"t_{step}") for i, step in enumerate(steps)
    ]
    n_steps = sum(
        (F.min(f"_val_{i}").isNotNull().cast("int") for i in range(len(steps))),
        F.lit(0),
    )
    return out.groupBy(user).agg(*aggs, n_steps.alias("n_steps"))


def topk_per_group(
    df: DataFrame,
    *,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per group via row_number over a per-key window — one
    shuffle; AQE handles skewed keys. Callers must make ``order_by``
    deterministic (include a tiebreaker column). By default the output
    schema equals the input's — the rank helper stays internal (a bare
    'rn' would clobber a caller's column of that name); pass ``rank_col``
    to surface the 1-based rank under that name."""
    out = rank_col or "__rn"
    if rank_col is None and "__rn" in df.columns:
        # the internal helper would silently REPLACE (and then drop) a
        # caller's __rn — the exact clobber the docstring warns about for
        # a bare 'rn' (review r14; the seasonal operators' clash pattern)
        raise ValueError(
            "topk_per_group scratch column __rn already present — rename "
            "it first, or pass rank_col="
        )
    w = Window.partitionBy(*keys).orderBy(*order_by)
    ranked = df.withColumn(out, F.row_number().over(w)).filter(F.col(out) <= k)
    return ranked if rank_col else ranked.drop(out)


def resample(
    df: DataFrame,
    *,
    ts: str = "time",
    keys: Sequence[str] = ("uuid",),
    step: str = "15 minutes",
    value: str = "value",
    how: str = "last",
    fill: str | None = "ffill",
) -> DataFrame:
    """Regularize each stream onto a fixed grid:

    1. bucket-aggregate to the grid (one shuffle),
    2. per key, generate the full dense grid with ``sequence()`` between the
       stream's min/max bucket (JVM-side; no driver loop),
    3. left-join observations back onto the grid (co-partitioned: same key,
       same shuffle layout),
    4. optional forward-fill through a per-key window.

    Scale: the grid explode is proportional to output size (bounded by
    range/step), never quadratic; forward-fill is one more window over the
    same partitioning, which AQE keeps co-located.
    """
    if how not in ("last", "first", "avg", "min", "max"):
        raise ValueError(f"unsupported how={how!r}")
    from pyspark.sql.types import TimestampNTZType

    step_s = interval_seconds(step)
    # Bucket WITHOUT a from_unixtime string round-trip: rendering epoch ->
    # session-tz string -> timestamp collapses distinct instants that share
    # a wall-clock during a DST fall-back, and silently retypes NTZ inputs
    # to LTZ. Instead floor in the input's own domain and rebuild with a
    # type-preserving constructor.
    if isinstance(df.schema[ts].dataType, TimestampNTZType):
        # wall-clock floor, DST-free by construction; stays TIMESTAMP_NTZ
        anchor = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
        bucket = F.expr(
            f"timestampadd(SECOND, CAST(floor(timestampdiff(SECOND, {anchor},"
            f" `{ts}`)/{step_s})*{step_s} AS BIGINT), {anchor})"
        )
    else:
        # true-instant floor; stays TIMESTAMP (LTZ)
        bucket = F.timestamp_seconds(
            F.floor(F.unix_timestamp(F.col(ts)) / step_s).cast("long") * step_s
        )
    # 'last'/'first' are BY TIME within the bucket, not by row arrival:
    # F.last/F.first in a groupBy aggregate depend on partition/row order
    # and silently flip between runs. max_by/min_by on the event time (key
    # nulled when the value is null, so null values are skipped like
    # ignorenulls) is deterministic up to exact-duplicate timestamps.
    ts_if_value = F.when(F.col(value).isNotNull(), F.col(ts))
    agg_fn = {
        "last": lambda c: F.max_by(c, ts_if_value),
        "first": lambda c: F.min_by(c, ts_if_value),
        "avg": F.avg,
        "min": F.min,
        "max": F.max,
    }[how]
    obs = (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, "__bucket")
        .agg(agg_fn(F.col(value)).alias(value))
    )
    # The dense grid must step in the SAME domain the buckets were floored
    # in. LTZ buckets are epoch multiples of step_s, but sequence() with a
    # calendar interval adds WALL-CLOCK units in the session tz — across a
    # DST transition a day-or-larger step would desynchronize from the
    # epoch-floored buckets and the left join would silently miss every
    # observation after the shift. So LTZ grids step numerically in epoch
    # seconds. NTZ grids keep the interval step: NTZ has no timezone, the
    # interval is a fixed duration there, and it matches the wall-clock
    # floor above.
    if isinstance(df.schema[ts].dataType, TimestampNTZType):
        grid_step = F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"interval '{step}'"))
        )
    else:
        grid_step = F.explode(
            F.transform(
                F.sequence(
                    F.unix_timestamp("__lo"),
                    F.unix_timestamp("__hi"),
                    F.lit(step_s),
                ),
                F.timestamp_seconds,
            )
        )
    grid = (
        obs.groupBy(*keys)
        .agg(F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi"))
        .select(*keys, grid_step.alias("__bucket"))
    )
    out = grid.join(obs, on=[*keys, "__bucket"], how="left")
    if fill == "ffill":
        w = Window.partitionBy(*keys).orderBy("__bucket")
        out = out.withColumn(value, F.last(F.col(value), ignorenulls=True).over(w))
    elif fill == "interpolate":
        # linear interpolation between the surrounding observations,
        # weighted by time distance — pandas interpolate() semantics:
        # interior gaps linear, trailing gaps carry the last value,
        # leading gaps stay null. Two windows over the SAME partitioning
        # (backward carry + forward carry), no extra shuffle.
        w_back = Window.partitionBy(*keys).orderBy("__bucket")
        w_fwd = (
            Window.partitionBy(*keys)
            .orderBy("__bucket")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        v = F.col(value)
        prev_v = F.last(v, ignorenulls=True).over(w_back)
        prev_t = F.last(F.when(v.isNotNull(), F.col("__bucket")), ignorenulls=True).over(w_back)
        next_v = F.first(v, ignorenulls=True).over(w_fwd)
        next_t = F.first(F.when(v.isNotNull(), F.col("__bucket")), ignorenulls=True).over(w_fwd)
        frac = (_epoch(F.col("__bucket")) - _epoch(prev_t)) / (
            _epoch(next_t) - _epoch(prev_t)
        )
        out = out.withColumn(
            value,
            F.when(v.isNotNull(), v)
            .when(prev_t.isNull(), F.lit(None))
            .when(next_t.isNull(), prev_v)
            .otherwise(prev_v + (next_v - prev_v) * frac),
        )
    elif fill not in (None, "none"):
        raise ValueError(f"unsupported fill={fill!r}")
    return out.withColumnRenamed("__bucket", ts)


def ewma(
    df: DataFrame,
    *,
    keys: Sequence[str] = ("uuid",),
    ts: str = "time",
    value: str = "value",
    alpha: float = 0.3,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-stream exponentially weighted moving average (pandas
    ``ewm(alpha).mean()`` semantics: weights renormalized over observed
    points, nulls skipped but carried).

    The recurrence is inherently sequential per stream, so this is the
    textbook ``applyInPandas`` case (SURVEY.md custom-operator rule b): one
    shuffle groups each stream onto one executor, then a vectorized pandas
    ewm runs per group — no state ever crosses streams, so 100 TB scales by
    stream count, and the per-group memory is one stream's rows. For
    unboundedly-long single streams, chunk by time range first.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if out_col in df.columns:
        # a duplicate field in the applyInPandas schema corrupts the Arrow
        # column mapping instead of erroring at the call site
        raise ValueError(
            f"out_col {out_col!r} already exists on the input; pass a "
            "distinct name (e.g. chaining ewma twice needs two out_cols)"
        )
    keys = list(keys)
    fields = df.schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + [f"`{out_col}` double"]
    )
    cols = [f.name for f in fields]

    def _ewm(pdf):
        pdf = pdf.sort_values(ts)
        pdf[out_col] = pdf[value].ewm(alpha=alpha, ignore_na=True).mean()
        return pdf[cols + [out_col]]

    return df.groupBy(*keys).applyInPandas(_ewm, schema=out_schema)


def counter_rate(
    df: DataFrame,
    *,
    ts: str = "time",
    value: str = "value",
    keys: Sequence[str] = ("uuid",),
    max_gap: str | None = None,
) -> DataFrame:
    """Per-second rate of a MONOTONIC counter (energy meters, pulse
    totalizers — the other half of a building-telemetry lake next to
    gauge streams): rate = delta / dt over consecutive readings, with
    Prometheus-style reset handling — a NEGATIVE delta means the counter
    restarted, so the post-reset reading IS the delta (the true increase
    is unknowable; assuming restart-from-zero is the standard
    under-estimate, never an over-estimate). First reading per stream
    and zero-dt duplicates yield NULL rate; ``max_gap`` additionally
    NULLs rates across gaps too wide to attribute (meter offline).

    One shuffle (the per-key window); emitted per READING so downstream
    rollups (time_bucket_rollup over the rate) stay composable."""
    w = Window.partitionBy(*keys).orderBy(ts)
    prev_v = F.lag(F.col(value)).over(w)
    prev_t = F.lag(F.col(ts)).over(w)
    dt = _epoch(F.col(ts)) - _epoch(prev_t)
    # a NULL previous VALUE (mid-stream null reading) must yield NULL,
    # not the reset branch: unlike the true first row, dt is non-NULL
    # there, and reset-delta/dt would fabricate a huge rate — breaking
    # the never-an-over-estimate guarantee
    delta = (
        F.when(prev_v.isNull(), F.lit(None))
        .when(F.col(value) >= prev_v, F.col(value) - prev_v)
        .otherwise(F.col(value))  # reset: counter restarted lower
    )
    rate = F.try_divide(delta, dt)  # NULL on first row (prev null) / dt=0
    if max_gap is not None:
        rate = F.when(dt <= F.lit(interval_seconds(max_gap)), rate)
    return df.withColumn("rate", rate)


def qc_flags(
    df: DataFrame,
    *,
    ts: str = "time",
    value: str = "value",
    keys: Sequence[str] = ("uuid",),
    window: int = 10,
    spike_sigmas: float = 4.0,
    flatline_n: int = 5,
    max_gap: str = "1 hour",
    spike_round: "int | None" = None,
) -> DataFrame:
    """Sensor-stream quality-control flags, the screening pass a
    building-telemetry lake runs before analytics trust a stream:

    - ``qc_spike``: |value - rolling mean| > spike_sigmas * rolling
      stddev over the previous ``window`` readings (the current reading
      is excluded from its own baseline, so one spike can't hide inside
      the statistics that judge it). NULL-variance starts (fewer than 2
      prior readings) and zero-variance baselines flag only via flatline.
    - ``qc_flatline``: the reading equals its ``flatline_n - 1``
      predecessors exactly — a stuck sensor (distinct from a LEGITIMATE
      constant setpoint stream only by length; tune flatline_n).
    - ``qc_gap``: more than ``max_gap`` elapsed since the previous
      reading (sensor offline; the reading itself may be fine but
      rate/resample logic downstream must not bridge it).

    ``flatline_n`` must be >= 2 (a 1-reading 'run' would flag every
    row).

    ``spike_round``: when set, the spike margin ``|v - mean| -
    sigmas * sd`` is rounded to that many decimals before the > 0 test.
    The rolling stddev is a float accumulation whose last ulp can differ
    between engines (Welford vs naive sum-of-squares); a reading sitting
    EXACTLY on the sigma boundary would then flag on one engine and not
    the other. Rounding pins cross-engine comparisons (the oracle
    harness passes 6); leave None for plain semantics.

    All three are per-key window expressions sharing ONE partitioning —
    a single shuffle, flags ride along with the row for downstream
    filtering or auditing."""
    if flatline_n < 2:
        raise ValueError(f"flatline_n must be >= 2, got {flatline_n}")
    w = Window.partitionBy(*keys).orderBy(ts)
    prior = w.rowsBetween(-window, -1)
    mean = F.avg(F.col(value)).over(prior)
    sd = F.stddev_samp(F.col(value)).over(prior)
    margin = F.abs(F.col(value) - mean) - F.lit(spike_sigmas) * sd
    if spike_round is not None:
        margin = F.round(margin, spike_round)
    spike = (margin > F.lit(0.0)) & (sd > 0)
    flat = F.lit(True)
    for i in range(1, flatline_n):
        flat = flat & (F.lag(F.col(value), i).over(w) == F.col(value))
    gap = (
        _epoch(F.col(ts)) - _epoch(F.lag(F.col(ts)).over(w))
    ) > F.lit(interval_seconds(max_gap))
    return (
        df.withColumn("qc_spike", F.coalesce(spike, F.lit(False)))
        .withColumn("qc_flatline", F.coalesce(flat, F.lit(False)))
        .withColumn("qc_gap", F.coalesce(gap, F.lit(False)))
    )


def lttb_downsample(
    df: DataFrame,
    *,
    ts: str = "time",
    value: str = "value",
    keys: Sequence[str] = ("uuid",),
    n_out: int = 500,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per stream — the
    dashboard-serving operator for a telemetry lake: reduce each stream
    to ``n_out`` visually-representative points (endpoints pinned,
    spikes survive because extreme points span the largest triangles).

    Shape: one shuffle (repartition by key), then ONE ``mapInPandas``
    pass that groups each partition's streams in pandas — NOT a per-group
    ``applyInPandas``: with dashboard-sized streams the per-group Spark
    machinery dominated outright (r16 measurement: 1,500 groups of ~67
    rows took 10.5s of which 0.4s was the upstream aggregate — ~7ms of
    pure per-group overhead each, most groups short-circuiting on
    n <= n_out). Grouping inside pandas pays that once per PARTITION.
    Memory contract: a whole shuffle partition is buffered as one pandas
    frame (AQE sizes the partitions; the old per-group contract only
    buffered one stream) — for corpora with MANY streams per key-hash or
    a hot key, size the upstream shuffle so one partition's streams fit
    a worker (spark.sql.shuffle.partitions / AQE advisory size; the
    operator adds no repartition count of its own so the session's
    scale-adaptive sizing applies). Float-typed keys: Arrow→pandas maps
    a SQL NULL key to NaN, which would merge a NULL-keyed stream with a
    NaN-keyed one, so each float/double key gets a Spark-side isnull
    INDICATOR column that rides to the pandas groupby (r17) — group
    identity matches Spark's groupBy (NULL and NaN distinct; all NaNs
    one group) on every key type. Callers time-filter to
    the render window FIRST at 100 TB (the lake scan prunes), since LTTB
    is inherently sequential per stream (each pick depends on the
    previous one) and a dashboard window is thousands of points, not
    billions. The bucket AREAS are numpy-vectorized inside each pick;
    only the bucket walk is a Python loop (n_out iterations)."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, FloatType

    if n_out < 3:
        # LTTB needs both endpoints plus >= 1 interior pick; silently
        # returning 2 points for n_out=1 would break exact-size contracts
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    out_fields = [*keys, ts, value]
    schema = df.select(*out_fields).schema
    # one indicator per float/double key: after Arrow→pandas both a SQL
    # NULL and a real NaN read as NaN, but isnull() distinguishes them
    # JVM-side (isnull(NaN) is false), so grouping on [indicator, key]
    # restores Spark's groupBy identity. Non-float keys need none: their
    # NULLs map to None/NaN in a column that cannot hold a real NaN.
    float_keys = [
        k
        for k in keys
        if isinstance(df.schema[k].dataType, (FloatType, DoubleType))
    ]
    null_flags = {k: f"__isnull_{k}" for k in float_keys}

    def pick(pdf: pd.DataFrame, ret_fields=out_fields) -> pd.DataFrame:
        import numpy as np

        # NULL timestamps are unplottable and NaT kills astype(int64) —
        # drop them (NULL VALUES stay: their areas lose, see below)
        pdf = pdf.dropna(subset=[ts]).sort_values(ts, kind="mergesort")
        n = len(pdf)
        if n <= n_out:
            return pdf[ret_fields]
        x = pdf[ts].astype("int64").to_numpy(dtype=np.float64)
        y = pdf[value].to_numpy(dtype=np.float64)
        # bucket boundaries over the interior points (endpoints pinned)
        bounds = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
        chosen = [0]
        a = 0
        for b in range(n_out - 2):
            lo, hi = bounds[b], bounds[b + 1]
            nlo, nhi = bounds[b + 1], (
                bounds[b + 2] if b + 2 < len(bounds) else n
            )
            # average of the NEXT bucket is the third triangle vertex
            cx, cy = x[nlo:nhi].mean(), np.nanmean(y[nlo:nhi])
            ax, ay = x[a], y[a]
            areas = np.abs(
                (ax - cx) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (cy - ay)
            )
            # NaN candidate areas (null readings) never win
            areas = np.where(np.isnan(areas), -1.0, areas)
            a = lo + int(np.argmax(areas))
            chosen.append(a)
        chosen.append(n - 1)
        return pdf[ret_fields].iloc[chosen]

    if not keys:
        # zero keys = ONE global stream (the old groupBy() semantics):
        # repartition(*[]) is a TypeError and pandas groupby([]) raises,
        # so the whole frame coalesces to one partition and picks once
        def pick_all(batches):
            chunks = list(batches)
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            if pdf.empty:
                return
            yield pick(pdf)

        return df.select(*out_fields).repartition(1).mapInPandas(
            pick_all, schema
        )

    group_cols = [*(null_flags[k] for k in float_keys), *keys]
    flag_fields = list(null_flags.values())
    ret_fields = [*out_fields, *flag_fields]

    def pick_partition(batches):
        # a stream's rows can straddle Arrow batches, so the partition is
        # buffered whole before grouping (see the memory contract above);
        # dropna=False keeps NULL-key streams — Spark's groupBy treats
        # NULL as a group and this pass must too
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        picks = [
            pick(g, ret_fields)
            for _, g in pdf.groupby(group_cols, dropna=False, sort=False)
        ]
        # ONE output frame per partition: yielding each stream's picks
        # separately pays an Arrow conversion per stream — the same
        # per-group tax this function exists to remove
        yield pd.concat(picks, ignore_index=True)

    with_flags = df.select(
        *out_fields,
        *[F.isnull(F.col(k)).alias(v) for k, v in null_flags.items()],
    )
    flagged_schema = with_flags.select(*ret_fields).schema
    # the flags also ride the OUTPUT: pandas->Arrow nulls a float NaN, so
    # a NaN-keyed stream would come back NULL-keyed — the flag separates
    # "was SQL NULL" (keep NULL) from "was NaN" (restore NaN), matching
    # what Spark's own groupBy would have returned
    restored = [
        F.when(F.col(null_flags[k]), F.lit(None))
        .otherwise(
            F.coalesce(
                F.col(k), F.lit(float("nan")).cast(df.schema[k].dataType)
            )
        )
        .alias(k)
        if k in null_flags
        else F.col(k)
        for k in keys
    ]
    return (
        with_flags
        # no explicit partition count: the session's shuffle.partitions /
        # AQE coalescing size it (scale-adaptive, not a local constant)
        .repartition(*[F.col(k) for k in keys])
        .mapInPandas(pick_partition, flagged_schema)
        .select(*restored, ts, value)
    )


def cohort_retention(
    df: DataFrame,
    *,
    ts: str = "ts",
    user: str = "user_id",
    period: str = "1 week",
) -> DataFrame:
    """Cohort retention matrix — the other classic event-analytics shape
    next to :func:`funnel`: users grouped by their FIRST-activity period
    (the cohort), then for each later period offset, how many of them
    were active. Returns (cohort, period_offset, n_users,
    retention_rate) with offset 0 rows equal to cohort size by
    construction (rate 1.0).

    Shape: one min-aggregate per user (the only shuffle of the events
    until the final rollup); the per-user cohort map then BROADCASTS
    back onto the activity stream (user cardinality << event count; AQE
    falls back to a co-partitioned sort-merge join above the broadcast
    threshold), its shuffle is REUSED by the cohort-sizes aggregate
    (plan-verified: one ReusedExchange), and the (cohort, offset)
    count-distinct pays the standard two-exchange dedup. Cohort sizes
    broadcast into the rate. NULL users are excluded (no identity, no
    cohort)."""
    step = F.lit(interval_seconds(period))
    bucket = F.floor(_epoch(F.col(ts)) / step)
    events = df.filter(F.col(user).isNotNull()).select(
        F.col(user).alias("__u"), bucket.alias("__b")
    )
    first = events.groupBy("__u").agg(F.min("__b").alias("__cohort"))
    active = (
        events.join(first, "__u")
        .groupBy(
            F.col("__cohort").alias("cohort"),
            (F.col("__b") - F.col("__cohort")).cast("long").alias("period_offset"),
        )
        .agg(F.count_distinct(F.col("__u")).alias("n_users"))
    )
    sizes = first.groupBy(F.col("__cohort").alias("cohort")).agg(
        F.count(F.lit(1)).alias("__size")
    )
    return (
        active.join(F.broadcast(sizes), "cohort")
        .withColumn(
            "retention_rate",
            F.round(F.col("n_users") / F.col("__size"), 6),
        )
        .drop("__size")
    )


def transition_matrix(
    df: DataFrame,
    *,
    ts: str = "ts",
    user: str = "user_id",
    event_type: str = "event_type",
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Event-to-next-event transition counts per user journey — the
    Sankey/Markov input: (from_type, to_type, n, p) where p is the row-
    normalized transition probability. Terminal events (a user's last)
    transition to NULL. Pass ``order_tiebreak`` columns (e.g. the event
    id) when timestamps can tie — an unordered peer pair would otherwise
    count a nondeterministic direction. One shuffle (the per-user
    window); the normalization reuses a broadcast of the tiny from-type
    marginal."""
    w = Window.partitionBy(user).orderBy(ts, *order_tiebreak)
    pairs = (
        df.filter(F.col(user).isNotNull())
        .withColumn("__next", F.lead(F.col(event_type)).over(w))
        .groupBy(
            F.col(event_type).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("__t"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .withColumn("p", F.round(F.col("n") / F.col("__t"), 6))
        .drop("__t")
    )


def merge_intervals(
    df: DataFrame,
    *,
    start: str = "start",
    end: str = "end",
    keys: Sequence[str] = (),
    gap: "str | float" = 0,
    validate: bool = True,
) -> DataFrame:
    """Coalesce overlapping / touching / near-adjacent [start, end]
    intervals per key into maximal islands — the coverage question every
    sensor lake answers ("when was this stream actually reporting?"),
    and the span-algebra primitive under maintenance windows, session
    stitching, and downtime reports. Returns one row per island:
    (keys..., ``start``, ``end``, ``n_intervals``).

    Two intervals merge when the later one starts within ``gap`` of the
    running coverage end ('2 intervals touching end-to-start' merge at
    gap 0). ``gap`` is numeric for numeric bounds or an interval string
    ('5 minutes') for timestamps. CONTAINED intervals are handled by
    tracking the running MAX end, not the previous row's end — the
    classic gaps-and-islands pitfall where [0,100],[10,20],[30,40]
    must be ONE island. NULL starts and inverted intervals (end <
    start) are rejected loudly — via an in-plan assert column folded
    into the main pass (a lazy CASE around ``start`` that raises on the
    first bad row AT ACTION TIME), not eager pre-scans: the clean-data
    case pays ZERO extra jobs, preserving the one-shuffle scale shape
    (ADVICE r9; ``coverage_gaps`` inherits both the check and the
    savings). ``validate=False`` skips the check for pre-validated
    inputs. NULL ends are treated as point intervals at ``start``.

    One shuffle (the per-key window), then the island aggregate reuses
    the same partitioning — the sessionize plan applied to spans."""
    if validate:
        df = df.withColumn(
            start,
            F.when(
                F.col(start).isNull(),
                F.raise_error(
                    F.lit(f"merge_intervals: NULL {start!r} rows present")
                ),
            )
            .when(
                F.coalesce(F.col(end), F.col(start)) < F.col(start),
                F.raise_error(
                    F.lit(
                        f"merge_intervals: inverted intervals "
                        f"({end} < {start})"
                    )
                ),
            )
            .otherwise(F.col(start)),
        )
    e = F.coalesce(F.col(end), F.col(start))
    from pyspark.sql import types as T

    bounds_are_temporal = isinstance(
        df.schema[start].dataType,
        (T.TimestampType, T.TimestampNTZType, T.DateType),
    )
    if isinstance(gap, str):
        gap_expr = F.expr(f"INTERVAL {interval_seconds(gap)} SECOND")
    elif bounds_are_temporal:
        # a NUMERIC gap against temporal bounds means SECONDS: the
        # default gap=0 must work on the headline timestamp case —
        # F.lit(0) is an INT, and TIMESTAMP + INT fails analysis with an
        # opaque DATATYPE_MISMATCH instead of merging touching islands
        # (review r14)
        gap_expr = F.expr(f"INTERVAL {float(gap)} SECOND")
    else:
        gap_expr = F.lit(gap)
    w = Window.partitionBy(*keys).orderBy(start, end)
    prev_cover = F.max(e).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_break = (
        prev_cover.isNull() | (F.col(start) > prev_cover + gap_expr)
    ).cast("long")
    islands = df.withColumn("__island", F.sum(is_break).over(w))
    return (
        islands.groupBy(*keys, "__island")
        .agg(
            F.min(start).alias(start),
            F.max(e).alias(end),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("__island")
    )


def coverage_gaps(
    df: DataFrame,
    *,
    start: str = "start",
    end: str = "end",
    keys: Sequence[str] = (),
    window_start=None,
    window_end=None,
    gap: "str | float" = 0,
    validate: bool = True,
) -> DataFrame:
    """The complement of :func:`merge_intervals`: per key, the UNCOVERED
    spans — between coverage islands, plus the edges against an optional
    reporting window [``window_start``, ``window_end``] (so "sensor was
    silent from window open until first reading" is a gap too, not
    silence). The downtime/SLA report over the same span algebra.

    Returns (keys..., ``gap_start``, ``gap_end``); empty when coverage
    is contiguous across the window. Interior gaps come from one lag
    window over the (already tiny) island frame; edge gaps are two
    in-row comparisons. Keys with no intervals at all do not appear —
    they have no island rows; outer-join the key universe first if
    'totally silent stream' must surface."""
    islands = merge_intervals(
        df, start=start, end=end, keys=keys, gap=gap, validate=validate
    )
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(start)
    prev_end = F.lag(F.col(end)).over(w)
    interior = (
        islands.withColumn("__prev_end", prev_end)
        .filter(F.col("__prev_end").isNotNull())
        .select(
            *keys,
            F.col("__prev_end").alias("gap_start"),
            F.col(start).alias("gap_end"),
        )
    )
    out = interior
    if window_start is not None:
        head = (
            islands.groupBy(*keys)
            .agg(F.min(start).alias("__first"))
            .filter(F.col("__first") > F.lit(window_start))
            .select(
                *keys,
                F.lit(window_start).alias("gap_start"),
                F.col("__first").alias("gap_end"),
            )
        )
        out = out.unionByName(head)
    if window_end is not None:
        tail = (
            islands.groupBy(*keys)
            .agg(F.max(end).alias("__last"))
            .filter(F.col("__last") < F.lit(window_end))
            .select(
                *keys,
                F.col("__last").alias("gap_start"),
                F.lit(window_end).alias("gap_end"),
            )
        )
        out = out.unionByName(tail)
    # CLAMP every gap to the reporting window: coverage lying (partly or
    # wholly) outside [window_start, window_end] would otherwise extend
    # gap bounds beyond the window — e.g. coverage ending at t=20 with a
    # window opening at t=100 reported the gap as (20, 200), overstating
    # downtime by 80 units (review r14). Without a window, interior gaps
    # stay unclamped (there is nothing to clamp against).
    if window_start is not None:
        out = out.withColumn(
            "gap_start", F.greatest(F.col("gap_start"), F.lit(window_start))
        )
    if window_end is not None:
        out = out.withColumn(
            "gap_end", F.least(F.col("gap_end"), F.lit(window_end))
        )
    if window_start is not None or window_end is not None:
        out = out.filter(F.col("gap_end") > F.col("gap_start"))
    return out


def seasonal_decompose(
    df: DataFrame,
    *,
    ts: str = "bucket",
    value: str = "value",
    keys: Sequence[str] = (),
    period: int = 24,
    step: str = "1 hour",
) -> DataFrame:
    """Classical additive seasonal decomposition per key:
    ``value = trend + seasonal + resid``.

    The textbook estimator (the moving-average half of STL, without
    loess), re-expressed as range-frame windows so it is one pass and
    gap-honest:

    - ``trend`` — centered moving average over one ``period``. Odd
      period: the plain MA of ``period`` points. Even period: the
      standard 2xMA (endpoints half-weighted, implemented as the mean of
      the two length-``period`` averages offset by one step — no UDF,
      identical arithmetic). The frame is a RANGE frame over epoch
      seconds and the trend is NULL unless the window holds its FULL
      point count — a gap in the series degrades the estimate honestly
      to NULL instead of silently averaging fewer points (the same
      degrade-loudly rule as qc_flags).
    - ``seasonal`` — per-(key, phase) mean of the detrended series,
      centered so the P phase means sum to zero (unweighted center, per
      the classical method). Phase derives from the bucket's EPOCH
      (``floor(epoch/step) mod period``), not a row number, so gaps can
      never shift later rows into the wrong phase.
    - ``resid`` — what's left; NULL wherever the trend is.

    Input must be a regular ``step``-spaced series per key (feed from
    :func:`time_bucket_rollup` or :func:`resample`); irregular points
    would make the epoch-range frame silently include near-neighbors.

    Scale shape: one range-window pass over each key's series (one
    shuffle on ``keys``), a (keys x period)-row phase aggregate, and a
    join of that seasonal table back — AQE broadcasts it when it is
    actually small (the table is keys x period rows, LINEAR in stream
    cardinality, so the hint is left to the runtime rather than forced;
    ADVICE r12). The corpus itself is shuffled ONCE. No row ever reaches
    the driver.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    # withColumn silently REPLACES an existing column, so pre-existing
    # scratch/output names would corrupt the caller's data with plausible
    # numbers (ADVICE r12 — write_zordered guards its __z the same way)
    clash = [
        c
        for c in ("__ep", "__trend", "__phase", "__detr", "__seasonal",
                  "trend", "seasonal", "resid")
        if c in df.columns
    ]
    if clash:
        raise ValueError(
            f"seasonal_decompose output/scratch columns already present: "
            f"{clash} — rename them first"
        )
    step_s = interval_seconds(step)
    ep = _epoch(F.col(ts))
    part = list(keys)
    base = df.withColumn("__ep", ep)

    def _ma(lo_steps: int, hi_steps: int, n_required: int) -> Column:
        w = (
            Window.partitionBy(*part)
            .orderBy("__ep")
            .rangeBetween(lo_steps * step_s, hi_steps * step_s)
        )
        full = F.count(value).over(w) == n_required
        return F.when(full, F.avg(value).over(w))

    if period % 2 == 1:
        half = (period - 1) // 2
        trend = _ma(-half, half, period)
    else:
        half = period // 2
        # 2xMA: mean of the two period-length averages [-h, h-1] and
        # [-h+1, h] == the half-weighted-endpoint centered average
        trend = (
            _ma(-half, half - 1, period) + _ma(-half + 1, half, period)
        ) / 2
    out = base.withColumn("__trend", trend).withColumn(
        # floor, not cast("long"): truncation rounds toward zero, so
        # pre-1970 buckets offset from step alignment would land one
        # phase off (review r12; line ~748 already floors the same ratio)
        "__phase",
        F.pmod(F.floor(F.col("__ep") / step_s), F.lit(period)),
    )
    out = out.withColumn("__detr", F.col(value) - F.col("__trend"))
    phase_means = (
        out.groupBy(*part, "__phase")
        .agg(F.avg("__detr").alias("__pm"))
        .filter(F.col("__pm").isNotNull())
    )
    centering = Window.partitionBy(*part) if part else Window.partitionBy()
    seasonal_tbl = phase_means.withColumn(
        "__seasonal", F.col("__pm") - F.avg("__pm").over(centering)
    ).drop("__pm")
    # no forced broadcast hint: the phase table is keys x period rows —
    # linear in STREAM CARDINALITY, so at millions of keys a mandatory
    # broadcast would OOM the driver (ADVICE r12). AQE broadcasts it
    # whenever it is actually small (the common case) and falls back to a
    # shuffle join on the same key partitioning otherwise.
    joined = out.join(seasonal_tbl, part + ["__phase"], "left")
    return (
        joined.withColumn("trend", F.col("__trend"))
        .withColumn("seasonal", F.col("__seasonal"))
        .withColumn("resid", F.col(value) - F.col("__trend") - F.col("__seasonal"))
        .drop("__ep", "__trend", "__phase", "__detr", "__seasonal")
    )


def _assert_unique_timestamps(df: DataFrame, key: str, ts: str) -> None:
    """One aggregate job that rejects duplicate (key, ts) observations —
    the correlation operators' silent-wrong-answer mode: a duplicated
    timestamp joins MULTIPLE times, duplicate-weighting that point in
    every moment with plausible-looking output (ADVICE r12)."""
    dup = (
        df.groupBy(key, ts)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"duplicate ({key}, {ts}) observation e.g. "
            f"({dup[0][0]!r}, {dup[0][1]!r}) — correlations would be "
            "duplicate-weighted; bucket/resample first "
            "(time_bucket_rollup) or deduplicate"
        )


def pairwise_correlation(
    df: DataFrame,
    *,
    ts: str = "bucket",
    key: str = "uuid",
    value: str = "value",
    min_points: int = 2,
    validate: bool = False,
) -> DataFrame:
    """Pearson correlation between every pair of streams over their
    time-ALIGNED observations: (key_a, key_b, corr, n_points) with
    key_a < key_b — which sensors move together, the cross-stream
    analytics the per-stream operators (rollup, EWMA, QC) don't answer.
    CONTRACT: one observation per (key, ts) — a duplicated timestamp
    would silently duplicate-weight that point in every moment;
    ``validate=True`` buys one cheap aggregate pass that rejects such
    input loudly (ADVICE r12).

    Only timestamps BOTH streams observed enter a pair's estimate (inner
    self-join on ``ts``) — correlating ragged series by row position
    would silently misalign after the first gap. Pairs with fewer than
    ``min_points`` aligned observations are dropped rather than emitting
    a meaningless +-1.0 from one or two points; constant streams emit
    NULL corr (zero variance — Pearson undefined, and both engines agree
    NULL is the honest answer).

    Scale shape: one self-equi-join on ``ts`` (streams per timestamp
    bound the fan-out — at S streams per bucket the join emits
    S*(S-1)/2 rows per bucket, quadratic in STREAMS, linear in TIME,
    which is the inherent output size of all-pairs correlation), then
    one ``corr`` hash-aggregate per pair with map-side partials. Feed a
    bucketed/resampled series (time_bucket_rollup) so timestamps align;
    for many thousands of streams, prefilter to a candidate pair set
    first — all-pairs across 1e5 streams is 5e9 cells no matter the
    engine.
    """
    if validate:
        _assert_unique_timestamps(df, key, ts)
    a = df.select(
        F.col(ts).alias("__t"),
        F.col(key).alias("key_a"),
        F.col(value).alias("__va"),
    )
    b = df.select(
        F.col(ts).alias("__t"),
        F.col(key).alias("key_b"),
        F.col(value).alias("__vb"),
    )
    return _pearson_over_pairs(a.join(b, ["__t"]), ["key_a", "key_b"], min_points)


def _pearson_over_pairs(joined, group_cols: list, min_points: int) -> DataFrame:
    """The ONE spelling of the pair-correlation aggregate (shared by
    pairwise_correlation and lagged_correlation — review r12: the whole
    block had been copy-pasted, including a fix-bearing comment):

    - pairwise deletion UP FRONT: covar_samp skips rows where EITHER
      value is NULL but stddev_samp/count skip only their own — three
      different row subsets in one ratio (wrong corr, and a pair with
      two non-null points would dodge the min_points floor). One filter
      makes every aggregate share the subset, matching F.corr's and
      DuckDB corr's semantics;
    - corr derived AFTER aggregation behind a lazy zero-variance guard:
      F.corr itself raises DIVIDE_BY_ZERO under ANSI mode on a constant
      stream, where NULL is the honest answer (Pearson undefined). The
      n-1 sample factors cancel in the ratio, so this matches any
      engine's corr wherever one is defined.
    """
    joined = joined.filter(F.col("key_a") < F.col("key_b")).filter(
        F.col("__va").isNotNull() & F.col("__vb").isNotNull()
    )
    agg = joined.groupBy(*group_cols).agg(
        F.covar_samp("__va", "__vb").alias("__cov"),
        F.stddev_samp("__va").alias("__sa"),
        F.stddev_samp("__vb").alias("__sb"),
        F.count(F.lit(1)).alias("n_points"),
    )
    corr = F.when(
        (F.col("__sa") > 0) & (F.col("__sb") > 0),
        F.col("__cov") / (F.col("__sa") * F.col("__sb")),
    )
    return agg.filter(F.col("n_points") >= min_points).select(
        *group_cols, corr.alias("corr"), "n_points"
    )


def lagged_correlation(
    df: DataFrame,
    *,
    ts: str = "bucket",
    key: str = "uuid",
    value: str = "value",
    max_lag: int = 3,
    step: str = "1 hour",
    min_points: int = 2,
    validate: bool = False,
) -> DataFrame:
    """Cross-correlation at lags: for every stream pair (key_a < key_b)
    and every lag in [-max_lag, +max_lag], the Pearson correlation
    between ``a[t]`` and ``b[t + lag*step]`` — the lead/lag screen
    ("does supply temperature move 2 hours after the setpoint?") that
    :func:`pairwise_correlation` (the lag-0 column of this output)
    cannot answer. Sign convention, pinned in tests: POSITIVE lag means
    b's series is read ``lag`` steps LATER than a's, so a peak at a
    positive lag says "a leads b". The (b, a, -k) mirror is never
    emitted — key_a < key_b with the full signed lag range already
    carries both directions.

    Same integrity rules as pairwise_correlation, per (pair, lag):
    aligned observations only (epoch-shifted equi-join), one both-
    non-null subset for every aggregate, NULL corr on zero variance
    (ANSI-safe lazy guard), pairs under ``min_points`` dropped. One
    contract difference: lag arithmetic needs a NUMERIC axis, so
    alignment here is on WHOLE-SECOND epochs (the module-wide _epoch
    granularity) — sub-second-distinct buckets would collide; feed a
    bucketed series (which is also what makes lag*step meaningful), and
    then lag 0 equals pairwise_correlation exactly (test-pinned).

    Scale shape: the b side fans out (2*max_lag + 1)x through one
    in-row explode BEFORE the join, so the whole lag battery costs ONE
    equi-join + one hash-aggregate — not one join per lag; everything
    else is linear in that fan-out.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    if validate:
        # same duplicate-weighting contract as pairwise_correlation —
        # plus here a sub-second-distinct pair would collide on whole-
        # second epochs, which this check also catches post-truncation.
        # withColumn silently REPLACES an existing column, so a caller's
        # __ve would be validated instead of the epoch (ADVICE r13 — the
        # same clash guard seasonal_decompose grew in r12)
        if "__ve" in df.columns:
            raise ValueError(
                "lagged_correlation scratch column __ve already present — "
                "rename it first"
            )
        _assert_unique_timestamps(
            df.withColumn("__ve", _epoch(F.col(ts))), key, "__ve"
        )
    step_s = interval_seconds(step)
    a = df.select(
        _epoch(F.col(ts)).alias("__t"),
        F.col(key).alias("key_a"),
        F.col(value).alias("__va"),
    )
    b = df.select(
        _epoch(F.col(ts)).alias("__tb"),
        F.col(key).alias("key_b"),
        F.col(value).alias("__vb"),
    ).withColumn("lag", F.explode(F.sequence(F.lit(-max_lag), F.lit(max_lag))))
    # b[t + lag] pairs with a[t]  <=>  probe epoch = tb - lag*step
    b = b.withColumn("__t", F.col("__tb") - F.col("lag") * step_s)
    return _pearson_over_pairs(
        a.join(b, ["__t"]), ["key_a", "key_b", "lag"], min_points
    )


def correlated_pairs(
    df: DataFrame,
    *,
    ts: str = "bucket",
    key: str = "uuid",
    value: str = "value",
    threshold: float = 0.9,
    n_bits: int = 128,
    band_bits: int = 8,
    min_points: int = 2,
    anticorrelated: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Stream pairs whose Pearson correlation is >= ``threshold``
    (``|corr|`` when ``anticorrelated``) — the CANDIDATE-PRUNED sibling
    of :func:`pairwise_correlation`, for corpora where all-pairs is
    unpayable (1e5 streams = 5e9 pairs no matter the engine). Same
    output schema (key_a, key_b, corr, n_points); the corr values are
    EXACT (the same aligned-observation aggregate), only the candidate
    set is approximate — the same "exact core + pruned candidates"
    contract as the dedup family (operators/dedup.py minhash_dedup).
    CONTRACT (the lagged_correlation one, not pairwise_correlation's):
    alignment is on WHOLE-SECOND epochs — the projection directions hash
    the epoch, so the exact stage must join on the same axis; feed a
    bucketed series, where sub-second-distinct timestamps cannot exist.
    Duplicate (key, epoch) observations would silently duplicate-weight
    every moment; ``validate=True`` buys the one-pass loud rejection.

    Screen: Pearson correlation IS the cosine of the mean-centered
    series, so sign-random-projection LSH (the SimHash family) is the
    natural prefilter — streams are sketched to ``n_bits`` sign bits of
    random projections of their centered series, and Hamming-banded via
    the SAME :func:`~mortar_parquet_support_spark.operators.dedup.
    fingerprint_band_pairs` the text/image dedup legs share. The
    projection directions are xxhash64-derived from (bit index, epoch) —
    deterministic, distributed, JVM-side; no stream ever materializes as
    a vector. A variance floor (stddev > 0, count >= min_points) drops
    streams whose correlation is undefined before any pairing.

    Recall knobs: each bit flips independently with p = arccos(rho)/pi
    (~14% at the 0.9 default), and a pair is caught when ANY of the
    n_bits/band_bits bands matches exactly, so catch probability is
    1 - (1 - (1-p)^band_bits)^(n_bits/band_bits): 0.9958 per pair at
    rho=0.90 with the 128/8 defaults, ~1.0 at 192+. MEASURED
    (PROFILE_CORR.json, 241 planted pairs spanning rho 0.90-0.99 over
    800 streams x 256 buckets, exact all-pairs ground truth): recall
    0.9959 at n_bits=128 (the one miss sat in the 0.92-0.95 band),
    1.0 at 192 and 256 — the formula tracks measurement to the third
    decimal. Raise ``n_bits`` (more blocks, linear sketch cost) for
    recall, raise ``band_bits`` for precision (fewer, tighter
    buckets). Lowering
    ``threshold`` below ~0.7 degrades the screen sharply — that regime
    wants :func:`pairwise_correlation` on a prefiltered population.
    ``anticorrelated=True`` also bands each signature against the
    COMPLEMENT side (corr(x, -y) = -corr(x, y) flips every sign bit), so
    strong negative pairs cost one extra equi-join, not a rescan.

    Scale shape: ONE shuffle of the corpus (the per-key aggregate
    computes moments and all 2*n_bits projection sums together — the
    mean-centering folds into post-aggregate arithmetic, so no second
    pass), banded equi-joins over the tiny signature table, then the
    exact aggregate over candidate-pair rows only. The candidate join
    fans out |candidates| * series-length rows — bounded by the screen,
    never S^2. Contract: one observation per (key, ts), like
    pairwise_correlation (the screen and the exact stage both
    duplicate-weight otherwise).
    """
    from mortar_parquet_support_spark.functions import materialize
    from mortar_parquet_support_spark.operators.dedup import (
        fingerprint_band_pairs,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if n_bits < 64 or n_bits % 64 != 0:
        raise ValueError(
            f"n_bits ({n_bits}) must be a positive multiple of 64 — "
            "signatures band as whole 64-bit fingerprints"
        )

    obs = df.select(
        F.col(key).alias("__k"),
        _epoch(F.col(ts)).alias("__t"),
        F.col(value).alias("__v"),
    ).filter(F.col("__v").isNotNull())
    if validate:
        _assert_unique_timestamps(obs, "__k", "__t")

    # one aggregate computes moments AND every projection sum: with
    # r_j(t) in {-1,+1} hash-derived, sum_t r_j * (x_t - mu) =
    # sum(r_j * x) - mu * sum(r_j), so centering needs no second pass
    # (and the 1/sigma factor cannot change a SIGN, so it is skipped).
    # r17 construction-cost rewrite, two parts, both value-identical:
    # - the r_j columns are PRE-PROJECTED once: spelling the hash inside
    #   both of each bit's aggregates evaluated 2*n_bits xxhash64 per row
    #   (no subexpression sharing across aggregate expressions) and
    #   doubled every aggregate's expression subtree;
    # - the repetitive per-bit expressions are built as SQL STRINGS
    #   (selectExpr / one F.expr per aggregate), not Column operator
    #   chains: every Column method is a py4j round-trip, and this
    #   operator's ~3,000 of them were 6.0s of pure driver-side plan
    #   BUILDING at sf0.1 (vs ~1s execution) — the measured hotspot.
    #   The SQL spellings parse to the same Catalyst expressions
    #   (integer literals are INT in both, matching xxhash64's input
    #   hashing; CASE/shiftleft/sum identical), so every value is
    #   bit-identical — pinned by the oracle hash and the recall tests.
    r_cols = [
        f"CAST(((xxhash64({j}, __t) & 1) * 2 - 1) AS DOUBLE) AS __r{j}"
        for j in range(n_bits)
    ]
    proj = obs.selectExpr("__k", "__v", *r_cols)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.avg("__v").alias("__mu"),
        F.stddev_samp("__v").alias("__sd"),
    ]
    for j in range(n_bits):
        aggs.append(F.expr(f"sum(__r{j} * __v) AS __srx{j}"))
        aggs.append(F.expr(f"sum(__r{j}) AS __sr{j}"))
    sketch = (
        proj.groupBy("__k")
        .agg(*aggs)
        .filter((F.col("__n") >= min_points) & (F.col("__sd") > 0))
    )
    fp_cols = []
    for f_idx in range(n_bits // 64):
        terms = []
        for b in range(64):
            j = f_idx * 64 + b
            # shiftleft, not a 2**b literal: bit 63's power overflows a
            # long literal; the shift wraps correctly
            terms.append(
                f"(CASE WHEN (__srx{j} - __mu * __sr{j}) >= 0 "
                f"THEN shiftleft(CAST(1 AS BIGINT), {b}) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        # distinct powers of two: the sum's bit pattern == bitwise OR
        # (two's-complement wraparound on bit 63 included); SQL + chains
        # parse left-associative exactly like the old Python sum() fold
        fp_cols.append(" + ".join(terms) + f" AS __fp{f_idx}")
    sigs = materialize(sketch.selectExpr("__k", *fp_cols))

    cand = None
    for f_idx in range(n_bits // 64):
        block = fingerprint_band_pairs(
            sigs.select("__k", f"__fp{f_idx}"),
            id_col="__k",
            fp_col=f"__fp{f_idx}",
            band_bits=band_bits,
            # sigs is already materialized above — re-banding off the
            # checkpoint is cheaper than one more eager barrier per
            # fingerprint block (r16)
            skip_barrier=True,
        ).select("id_a", "id_b")
        cand = block if cand is None else cand.unionByName(block)
        if anticorrelated:
            # band the signature against its complement: a strongly
            # negative pair's fingerprints are near-complementary, so
            # orig-vs-flipped banding is the mirror screen
            flipped = sigs.select(
                "__k",
                F.col(f"__fp{f_idx}").bitwiseXOR(F.lit(-1).cast("long")).alias(
                    "__fpn"
                ),
            )
            neg = _band_pairs_between(
                sigs.select("__k", f"__fp{f_idx}"), f"__fp{f_idx}",
                flipped, "__fpn", band_bits,
            )
            cand = cand.unionByName(neg)
    pairs = materialize(
        cand.dropDuplicates(["id_a", "id_b"]).select(
            F.col("id_a").alias("key_a"), F.col("id_b").alias("key_b")
        ),
    )

    a = obs.select(
        F.col("__t"), F.col("__k").alias("key_a"), F.col("__v").alias("__va")
    )
    b = obs.select(
        F.col("__t"), F.col("__k").alias("key_b"), F.col("__v").alias("__vb")
    )
    joined = a.join(pairs, ["key_a"]).join(b, ["__t", "key_b"])
    exact = _pearson_over_pairs(joined, ["key_a", "key_b"], min_points)
    keep = (
        F.abs(F.col("corr")) >= threshold
        if anticorrelated
        else F.col("corr") >= threshold
    )
    return exact.filter(F.col("corr").isNotNull() & keep)


def top_correlated_partners(
    df: DataFrame,
    *,
    ts: str = "bucket",
    key: str = "uuid",
    value: str = "value",
    k: int = 1,
    threshold: float = 0.9,
    **correlated_kwargs,
) -> DataFrame:
    """Each stream's ``k`` strongest partners AMONG pairs whose
    correlation clears ``threshold`` — the per-stream ranking view of
    :func:`correlated_pairs` ("which sensor does THIS one track most"),
    one row per (key, partner) with ``rank`` 1..k.

    The threshold is part of the contract, not a convenience: an
    unthresholded top-k would have to rank WEAK partners too, and the
    LSH screen's recall only covers pairs above the threshold (below it
    the screen prunes exactly the pairs a top-k would need).
    Thresholded, the ranking is a pure function of the surviving exact
    corr values over a candidate set whose recall is PROBABILISTIC, not
    guaranteed: measured 0.9959 at the default n_bits=128 and 1.0 at
    192/256 against exhaustive ground truth (PROFILE_CORR.json; the
    fixture-scale oracle also witnesses 1.0 every round) — a rank can
    therefore shift when a just-above-bar partner is among the ~0.4%
    screen misses; raise n_bits to 192 where that matters.

    Determinism across engines: rank orders by the corr ROUNDED at 9dp
    (engines agree to ~1e-12, so the rank inputs are bit-identical),
    ties broken by partner id ascending. Both orientations of each pair
    enter the ranking — key_a < key_b carries no per-stream meaning.

    Scale shape: correlated_pairs' cost plus one window over each key's
    candidate partners — a set the screen already bounded, never the
    stream count."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pairs = correlated_pairs(
        df, ts=ts, key=key, value=value, threshold=threshold,
        **correlated_kwargs,
    )
    a = pairs.select(
        F.col("key_a").alias("key"), F.col("key_b").alias("partner"),
        "corr", "n_points",
    )
    b = pairs.select(
        F.col("key_b").alias("key"), F.col("key_a").alias("partner"),
        "corr", "n_points",
    )
    both = a.unionByName(b)
    w = Window.partitionBy("key").orderBy(
        F.round(F.abs(F.col("corr")), 9).desc(), F.col("partner")
    )
    return both.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _band_pairs_between(left, left_fp: str, right, right_fp: str, band_bits: int):
    """Hamming-band equi-join BETWEEN two fingerprint frames (both keyed
    ``__k``) — the asymmetric cousin of fingerprint_band_pairs' self-join,
    used by correlated_pairs' anticorrelated screen (orig vs complement).
    Returns ordered (id_a, id_b) candidates. The band split itself is
    dedup._band_array — ONE spelling of the bucket space for every
    banding leg (review r14)."""
    from mortar_parquet_support_spark.operators.dedup import (
        _band_array,
        _validate_band_bits,
    )

    _validate_band_bits(band_bits)

    def _banded(df, fp):
        return df.select(
            F.col("__k").alias("id"),
            F.posexplode(_band_array(F.col(fp), band_bits)).alias(
                "band", "bkey"
            ),
        )

    la, rb = _banded(left, left_fp).alias("a"), _banded(right, right_fp).alias("b")
    raw = la.join(
        rb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.least("a.id", "b.id").alias("id_a"),
        F.greatest("a.id", "b.id").alias("id_b"),
    )
    return raw.dropDuplicates(["id_a", "id_b"])


def cusum_changepoints(
    df: DataFrame,
    *,
    ts: str = "bucket",
    key: str = "uuid",
    value: str = "value",
    drift: float = 0.5,
    threshold: float = 5.0,
) -> DataFrame:
    """Two-sided standardized CUSUM per stream (Page 1954): the classic
    mean-shift changepoint screen. Per key, with z_t = (x_t - mean)/std
    (each key's own full-series moments; std == 0 -> z = 0, a constant
    stream can never alarm):

        s_hi_t = max(0, s_hi_{t-1} + z_t - drift)     (upward shifts)
        s_lo_t = max(0, s_lo_{t-1} - z_t - drift)     (downward shifts)

    NULL readings are excluded from the trace (a NULL would NaN-poison
    the moments and silently flatten the whole stream); resample/gap-
    fill first if missing points should participate.

    Returns every point with both statistics and ``alarm`` (either side
    above ``threshold``) — the full trace, not just alarms, so the
    consumer sees the build-up and can re-threshold without recompute.

    The recurrence is a sequential fold — not window-expressible — so it
    runs per key in ONE ``applyInPandas`` pass (numpy, vectorized
    moments + a tight loop over the clamp); grouped shuffle is the only
    exchange. Per-key state is two floats; series length per key is the
    only memory bound, the same contract as lttb_downsample.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    if drift < 0:
        # a sign typo would bias the recurrence POSITIVE every step and
        # alarm every stream on pure noise with no error
        raise ValueError(f"drift must be >= 0, got {drift}")
    out_schema = T.StructType(
        [
            df.schema[key],
            df.schema[ts],
            T.StructField("z", T.DoubleType(), True),
            T.StructField("s_hi", T.DoubleType(), True),
            T.StructField("s_lo", T.DoubleType(), True),
        ]
    )

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort")
        x = pdf[value].to_numpy(dtype=np.float64)
        # two-pass moments, ddof=1 — the same textbook formula the SQL
        # oracle states explicitly (engine-internal one-pass stddev
        # variants differ in the last ulps; stating the formula on both
        # sides keeps the recurrence inputs bit-aligned)
        mean = x.sum() / len(x)
        var = ((x - mean) ** 2).sum() / (len(x) - 1) if len(x) > 1 else 0.0
        std = float(np.sqrt(var))
        z = (x - mean) / std if std > 0 else np.zeros_like(x)
        s_hi = np.empty_like(z)
        s_lo = np.empty_like(z)
        hi = lo = 0.0
        for i, zi in enumerate(z):
            hi = max(0.0, hi + zi - drift)
            lo = max(0.0, lo - zi - drift)
            s_hi[i] = hi
            s_lo[i] = lo
        return pd.DataFrame(
            {
                key: pdf[key].to_numpy(),
                ts: pdf[ts].to_numpy(),
                "z": z,
                "s_hi": s_hi,
                "s_lo": s_lo,
            }
        )

    # NULL readings are EXCLUDED from the trace, not folded: one NULL
    # would otherwise NaN-poison the moments, zero every z, and return a
    # perfectly flat legit-looking trace that can never alarm (review
    # r12) — the opposite of degrading loudly. Excluding the point keeps
    # the recurrence over the observations that exist (the same
    # pairwise-deletion stance as _pearson_over_pairs); gap-sensitive
    # callers should resample/gap-fill first.
    folded = (
        df.select(key, ts, value)
        .filter(F.col(value).isNotNull())
        .groupBy(key)
        .applyInPandas(_fold, schema=out_schema)
    )
    alarm = (F.col("s_hi") > threshold) | (F.col("s_lo") > threshold)
    return folded.withColumn("alarm", alarm)


def seasonal_anomalies(
    df: DataFrame,
    *,
    ts: str = "bucket",
    value: str = "value",
    keys: Sequence[str] = (),
    period: int = 24,
    step: str = "1 hour",
    sigma: float = 3.0,
) -> DataFrame:
    """Deseasonalized anomaly screen — the operational use of
    :func:`seasonal_decompose`: a spike is judged against what's left
    AFTER trend and seasonality are removed, so a hot afternoon is not
    an anomaly but the same reading at 3am is. Adds to the decomposition
    output:

    - ``score`` — |resid| / std(resid), the residual's own scale (std is
      the stated two-pass ddof=1 formula over the key's non-NULL
      residuals — never an engine-internal one-pass variant, so any
      engine restates it bit-compatibly);
    - ``anomaly`` — ``score > sigma``; NULL score (edge rows with no
      trend, or a zero-variance residual) can never flag.

    Scale shape: seasonal_decompose's one shuffle, plus two more window
    passes over the SAME key partitioning (mean then squared-deviation
    sum) — Catalyst reuses the exchange, so the corpus still moves once.
    """
    if sigma <= 0:
        raise ValueError(f"sigma must be > 0, got {sigma}")
    clash = [
        c for c in ("__mr", "__nr", "score", "anomaly") if c in df.columns
    ]
    if clash:  # same silent-overwrite guard as seasonal_decompose's
        raise ValueError(
            f"seasonal_anomalies output/scratch columns already present: "
            f"{clash} — rename them first"
        )
    dec = seasonal_decompose(
        df, ts=ts, value=value, keys=keys, period=period, step=step
    )
    part = Window.partitionBy(*keys) if keys else Window.partitionBy()
    # two selects: a window expression cannot nest inside another window
    # aggregate, so the mean lands as a concrete column first
    staged = dec.withColumn("__mr", F.avg("resid").over(part)).withColumn(
        "__nr", F.count("resid").over(part)
    )
    dev = F.col("resid") - F.col("__mr")
    var = F.sum(dev * dev).over(part) / (F.col("__nr") - 1)
    std = F.when(F.col("__nr") > 1, F.sqrt(var))
    score = F.when(std > 0, F.abs(F.col("resid")) / std)
    return (
        staged.withColumn("score", score)
        .withColumn("anomaly", F.coalesce(F.col("score") > sigma, F.lit(False)))
        .drop("__mr", "__nr")
    )
