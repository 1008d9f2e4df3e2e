"""Event-stream operators: windowed aggregation, sessionization,
as-of join.

The reference has no streaming surface at all (SURVEY.md §2.11 —
its only incremental behavior is the importer's periodic commit,
``DirectStatementLoader.java:175-181``). These are the scale
extensions an event/telemetry pipeline needs, written so the SAME
transformation runs in batch and in Structured Streaming:
``windowed_event_counts`` takes either a batch DataFrame or a
``readStream`` DataFrame; only the sink call differs.

Scale notes:
- windowed agg: one shuffle on (window, event_type); with a
  watermark, state eviction is bounded — late rows beyond the
  watermark are dropped, exactly Spark's documented semantics.
- sessionize: one shuffle on user_id; per-user timeline fits the
  window-function model (lag + cumulative session counter). For
  unbounded streams the stateful equivalent is
  ``applyInPandasWithState`` keyed on user_id with a session-gap
  timeout.
- asof_join: union-and-carry-forward formulation — ONE shuffle on
  the partition key, no range-explosion, no per-row Python. This is
  the plan that survives 100 TB: both sides shuffle once by key,
  the carry-forward is a running window aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pidb_rdf_spark.session import local_frame


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window (or, with ``slide``, sliding/hopping-window)
    counts + exact value sums per key.

    Works on batch and streaming inputs alike. Value sums are kept in
    integer cents (``round(value*100)``) — exact, order-independent,
    and reproducible, unlike floating-point accumulation whose result
    depends on partitioning. A sliding window assigns each event to
    ``window/slide`` overlapping windows (that factor is the row
    amplification cost — still one shuffle on (window, key)).
    """
    if watermark is not None:
        # Parquet fixtures carry TIMESTAMP_NTZ; event-time watermarks
        # require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
        # The session timezone is UTC, so the cast is value-preserving.
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        events = events.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide is not None
        else F.window(F.col(ts_col), window)
    )
    return (
        events.groupBy(win.alias("w"), F.col(key_col))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_cents",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds ``gap``. Output: one
    row per session (user, session_start, session_end, n_events).

    Classic lag + running-sum-of-breaks formulation: one shuffle on
    the user key, two window passes over already-sorted runs. The
    streaming twin is ``groupBy(session_window(ts, gap), user)`` /
    ``applyInPandasWithState`` — same output contract.
    """
    gap_expr = F.expr(f"INTERVAL {gap}")
    by_user = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    with_break = events.withColumn(
        "_new_session",
        (
            F.col(ts_col)
            > F.lag(F.col(ts_col)).over(by_user) + gap_expr
        )
        .cast("long")
        # first event of a user: lag is NULL → comparison NULL → treat
        # as session start
        ,
    ).withColumn("_new_session", F.coalesce(F.col("_new_session"), F.lit(1)))
    with_sid = with_break.withColumn(
        "session_seq",
        F.sum("_new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_sid.groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(user_col, "session_seq", "session_start", "session_end", "n_events")
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization via ``session_window`` — the form that
    runs incrementally under Structured Streaming (bounded state per
    open session, closed sessions emitted once the watermark passes).
    Works identically on batch input, where it equals ``sessionize``
    minus the per-user ordinal (``session_seq`` needs a global
    per-user order, which an unbounded stream cannot assign).

    Output: user, session_start (min ts), session_end (max ts),
    n_events. Engine session-merge semantics: an event at exactly
    ``gap`` after the previous one opens a NEW session (session
    windows are half-open), where the batch ``sessionize`` keeps it —
    callers with exact-gap data should pick which contract they mean.
    """
    e = events
    if e.isStreaming:
        # TIMESTAMP_NTZ cannot carry a watermark (cast is
        # value-preserving: UTC session timezone)
        e = e.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
            ts_col, watermark
        )
    return (
        e.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col)
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(user_col, "session_start", "session_end", "n_events")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_value_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the right row with the greatest
    ``right_ts <= left_ts`` (direction='backward') or the smallest
    ``right_ts >= left_ts`` (direction='forward') within the same
    ``on`` key — SQL ASOF JOIN semantics (unmatched → NULLs), both
    directions inclusive at equality. SQL NULL semantics hold too:
    right rows with a NULL key or NULL timestamp never match anything
    (they are dropped from the right side — left in, a NULL-ts row
    sorts nulls-first and would be carried as the running match to
    every left row that precedes all real right rows, and NULL keys
    would equi-match each other through the window partition); left
    rows with a NULL key come back unmatched.

    Implementation: tag both sides, union, single shuffle on the key,
    carry the nearest right row with a running ``last(...,
    ignorenulls)`` window (time-ascending for backward, descending
    for forward) — O(n log n) within each key partition and exactly
    one shuffle, vs. the naive range-join explosion.
    """
    if direction not in ("backward", "forward"):
        raise NotImplementedError("direction must be 'backward' or 'forward'")
    right_value_cols = right_value_cols or []

    r_payload = F.struct(
        F.col(right_ts).alias("matched_ts"),
        *[F.col(c) for c in right_value_cols],
    )
    r = right.filter(
        F.col(on).isNotNull() & F.col(right_ts).isNotNull()
    ).select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        r_payload.alias("_rv"),
    )
    # left rows carry their whole payload through the union — no
    # row-id re-join (generated ids are partition-layout-dependent and
    # would make the plan nondeterministic)
    left_cols = left.columns
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_rv"].dataType).alias("_rv"),
        F.struct(*[F.col(c) for c in left_cols]).alias("_lv"),
    )
    r = r.withColumn("_lv", F.lit(None).cast(l.schema["_lv"].dataType))
    # right rows sort before left rows at equal ts (side 0 < 1) so an
    # exactly-simultaneous right row matches in BOTH directions
    # (inclusive <= / >=); forward = the same running-last scan over
    # time reversed
    t_order = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    w = Window.partitionBy("_k").orderBy(
        t_order, F.col("_side").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    merged = (
        l.unionByName(r)
        .withColumn("_match", F.last("_rv", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        # a left row with NULL ts has no as-of position: force it
        # unmatched (under forward's descending order it would sort
        # nulls-last and pick up the smallest-ts right row)
        .withColumn(
            "_match",
            F.when(F.col("_t").isNotNull(), F.col("_match")),
        )
    )
    out = merged.select(
        *[F.col(f"_lv.{c}").alias(c) for c in left_cols],
        F.col("_match.matched_ts").alias("matched_ts"),
        *[F.col(f"_match.{c}").alias(f"matched_{c}") for c in right_value_cols],
    )
    return out


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-one-row-per-key dedup that runs in batch and streaming
    with the same call.

    Batch: plain ``dropDuplicates`` (one hash shuffle on the key).
    Streaming: ``withWatermark`` + ``dropDuplicatesWithinWatermark``,
    which keeps per-key state only for the watermark horizon — the
    unbounded-state trap of plain streaming ``dropDuplicates`` is the
    reason this helper exists. Duplicates arriving within the horizon
    are suppressed; a key re-appearing later is emitted again (that is
    the documented engine semantics, and the right contract for
    at-least-once ingestion pipelines where re-deliveries cluster
    near the original event).
    """
    if events.isStreaming:
        # TIMESTAMP_NTZ source columns cannot carry a watermark; cast
        # (UTC session timezone → value-preserving, see above).
        return (
            events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(key_cols)
        )
    return events.dropDuplicates(key_cols)


USER_STATS_SCHEMA = (
    "user_id bigint, n_events bigint, sum_cents bigint, "
    "first_ts timestamp, last_ts timestamp"
)
_USER_STATS_STATE_SCHEMA = (
    "n bigint, cents bigint, first_us bigint, last_us bigint"
)


def user_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user lifetime stats: event count, exact value sum in
    integer cents, first/last event time. One map-side-combinable
    shuffle on the user key — the batch twin of
    ``user_stats_stream`` (same output contract, column for column).
    """
    return (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.min(F.col(ts_col).cast("timestamp")).alias("first_ts"),
            F.max(F.col(ts_col).cast("timestamp")).alias("last_ts"),
        )
    )


def user_stats_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """``user_stats`` as a CUSTOM STATEFUL streaming operator —
    ``applyInPandasWithState`` keyed on the user, the route for
    operators Spark's built-in streaming aggregates cannot express
    (the built-ins could do this particular reduction; it is the
    reference implementation of the pattern, kept deliberately
    simple so the state plumbing — schema, merge step, emission —
    is the thing under test).

    State per user is four scalars (count, cents, first/last event
    micros): O(users) state total, no per-event growth. Each
    micro-batch emits the user's UPDATED totals once (update-mode
    sink semantics); the merge step is associative, so totals are
    batch-boundary-invariant — the stream≡batch test pins that.
    NULL values/timestamps are SKIPPED like the batch twin's
    F.sum/F.min (NaN cast to int64 silently yields INT64_MIN — a
    permanent state corruption, not an exception). One documented
    divergence: a user whose every value is NULL emits sum_cents 0
    where the batch F.sum emits NULL (the integer state cannot
    represent "never seen").

    Works on batch input too (falls back to ``user_stats``), so one
    call site serves both modes.
    """
    if not events.isStreaming:
        return user_stats(events, user_col, ts_col, value_col)

    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def update(key, pdfs, state):
        n, cents, first_us, last_us = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col])
            n += len(pdf)
            # HALF_UP (away from zero), matching Spark's F.round in the
            # batch twin — pandas' .round() is half-EVEN and would put
            # exact .5-cent values (e.g. 0.125*100) one cent off batch.
            # NULL values arrive as NaN in the float64 column and must
            # be SKIPPED like the batch twin's F.sum (astype('int64')
            # of NaN silently yields INT64_MIN — a permanent ~-9.2e18
            # state corruption, not an exception)
            v = pdf[value_col].to_numpy() * 100
            v = v[~np.isnan(v)]
            cents += int(
                (np.floor(np.abs(v) + 0.5) * np.sign(v)).astype("int64").sum()
            )
            # NULL timestamps arrive as NaT whose .value is INT64_MIN
            # — skip them like the batch twin's F.min/F.max
            tmin, tmax = ts.min(), ts.max()
            if not pd.isna(tmin):
                lo = int(tmin.value // 1000)
                hi = int(tmax.value // 1000)
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, cents, first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_cents": [cents],
                # a user whose every event so far has NULL ts emits
                # NaT, matching the batch twin's NULL min/max
                "first_ts": [
                    pd.NaT if first_us is None
                    else pd.Timestamp(first_us * 1000)
                ],
                "last_ts": [
                    pd.NaT if last_us is None
                    else pd.Timestamp(last_us * 1000)
                ],
            }
        )

    return (
        events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_USER_STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


_ROLLUP_NESTING = ["minute", "hour", "day", "month", "year"]


def rollup_counts(
    events: DataFrame,
    units: tuple[str, ...] = ("hour", "day"),
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Hierarchical time-bucket rollup (the continuous-aggregate /
    hypertable-rollup shape): counts + exact cent sums per key at
    each granularity in ``units``, where every coarser level is
    re-aggregated FROM THE PREVIOUS LEVEL'S PARTIALS, never from the
    raw events.

    That is the property that matters at 100 TB: the raw table is
    scanned and shuffled exactly once (for the finest bucket); each
    coarser level aggregates the already-tiny partial table (rows =
    buckets x keys), so daily/monthly rollups cost milliseconds
    regardless of raw volume. Sums are associative by construction
    (integer cents, bigint counts), so partial re-aggregation is
    exact — the same contract that makes the rollup incrementally
    maintainable under Structured Streaming (append new finest
    buckets, re-reduce the affected coarse buckets).

    ``units`` must be ordered fine -> coarse with nesting buckets
    (each unit's bucket boundary is also a boundary of the next;
    'minute'/'hour'/'day'/'month'/'year' nest, 'week' does not nest
    in 'month' and is rejected). Output: one row per
    (level, bucket, key) with ``n_events`` and ``sum_cents``.
    """
    if not units:
        raise ValueError("units must name at least one granularity")
    if events.isStreaming:
        # the level chain materializes each granularity (checkpoint),
        # which has no streaming equivalent in one query — run the
        # finest level via windowed_event_counts under foreachBatch
        # and re-reduce coarse levels batch-side
        raise ValueError(
            "rollup_counts is batch-only; for streams compute the finest "
            "level with windowed_event_counts and roll up in foreachBatch"
        )
    order = [u for u in units]
    idxs = []
    for u in order:
        if u not in _ROLLUP_NESTING:
            raise ValueError(
                f"unit {u!r} does not nest; choose from {_ROLLUP_NESTING}"
            )
        idxs.append(_ROLLUP_NESTING.index(u))
    if idxs != sorted(idxs) or len(set(idxs)) != len(idxs):
        raise ValueError("units must be strictly fine -> coarse")

    finest = order[0]
    cur = (
        events.groupBy(
            F.date_trunc(finest, F.col(ts_col).cast("timestamp")).alias(
                "bucket"
            ),
            F.col(key_col).alias("key"),
        ).agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
    )
    # Each level is MATERIALIZED (lazy checkpoint) before the next is
    # derived — that is what makes the partial-reuse claim physically
    # true: Catalyst does not de-duplicate common subplans across a
    # union, so without the checkpoint both the hour output AND the
    # day branch would rescan+reshuffle the raw table. (It is also
    # what a continuous aggregate IS — each granularity persisted,
    # coarser ones re-reduced from it.)
    cur = cur.localCheckpoint(eager=False)
    out = cur.select(F.lit(finest).alias("level"), "*")
    for unit in order[1:]:
        cur = (
            cur.groupBy(
                F.date_trunc(unit, F.col("bucket")).alias("bucket"), "key"
            ).agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_cents").alias("sum_cents"),
            )
        ).localCheckpoint(eager=False)
        out = out.unionByName(cur.select(F.lit(unit).alias("level"), "*"))
    return out


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    left_ts: str = "ts",
    right_ts: str = "ts",
    suffix: str = "_r",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Interval (time-range) join: every (left, right) pair with the
    same ``on`` key and ``left_ts + lower <= right_ts <= left_ts +
    upper`` — the event-correlation primitive (view -> purchase
    within an hour, request -> error within a minute, ...).

    The SAME code runs in batch and in Structured Streaming: an
    equi-join on the key plus a time-range residual is exactly the
    shape Spark's stream-stream join supports — with watermarks on
    BOTH inputs the range bound makes join state evictable (Spark
    drops buffered rows once the watermark passes ``upper``), so
    state is bounded by the interval width, not the stream length.
    Batch: one shuffle per side on the key, the range predicate
    stays a post-join filter (never a cartesian).

    Right-side columns are renamed with ``suffix`` (key joins once;
    ``right_cols`` selects a subset before the join — column-pruned
    scans at 100 TB).
    """
    r = right if right_cols is None else right.select(on, right_ts, *right_cols)
    ren = {c: c + suffix for c in r.columns if c != on}
    clash = sorted(set(ren.values()) & set(left.columns))
    if clash:
        raise ValueError(
            f"interval_join: left side already has column(s) {clash} — "
            "pick a different suffix"
        )
    # rename via ONE select, not sequential withColumnRenamed calls:
    # if the right frame has both 'x' and 'x_r', sequential renames
    # would first duplicate 'x_r' and then mislabel both — a single
    # select maps each column independently ('x'->'x_r',
    # 'x_r'->'x_r_r', no aliasing hazard). The only possible duplicate
    # target is the join key itself, which the left-side clash check
    # above already rejects (the key is always a left column).
    r = r.select(*[F.col(c).alias(ren.get(c, c)) for c in r.columns])
    rts = right_ts + suffix if right_ts in ren else right_ts
    cond = (
        (F.col(rts) >= F.col(left_ts) + F.expr(f"INTERVAL {lower}"))
        & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(r, on=on).filter(cond)


def detect_sequence(
    events: DataFrame,
    pattern: list[str],
    within: str = "1 hour",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """CEP-lite: CONTIGUOUS occurrences of ``pattern`` (a list of
    event types) in each key's timeline, with the whole run inside
    ``within`` (first event to last). Returns one row per match with
    the matched ids (``id_0..``), ``start_ts`` and ``end_ts``.

    Contiguity means no OTHER event of the same key interleaves —
    the strict-sequence semantics (document-order n-grams over the
    event stream). One shuffle on the key; the pattern walks the
    per-key timeline with ``lead()`` — no self-joins, so cost is
    O(events), not O(events^k).
    """
    if len(pattern) < 2:
        raise ValueError("pattern needs at least two event types")
    w = Window.partitionBy(by).orderBy(ts_col, id_col)
    df = events.select(by, ts_col, type_col, id_col)
    for i in range(1, len(pattern)):
        df = df.withColumn(f"__t{i}", F.lead(type_col, i).over(w))
        df = df.withColumn(f"__ts{i}", F.lead(ts_col, i).over(w))
        df = df.withColumn(f"__id{i}", F.lead(id_col, i).over(w))
    k = len(pattern) - 1
    cond = F.col(type_col) == pattern[0]
    for i in range(1, len(pattern)):
        cond = cond & (F.col(f"__t{i}") == pattern[i])
    cond = cond & (
        F.col(f"__ts{k}") <= F.col(ts_col) + F.expr(f"INTERVAL {within}")
    )
    out = df.filter(cond).select(
        by,
        F.col(ts_col).alias("start_ts"),
        F.col(f"__ts{k}").alias("end_ts"),
        F.col(id_col).alias("id_0"),
        *[F.col(f"__id{i}").alias(f"id_{i}") for i in range(1, len(pattern))],
    )
    return out


def funnel(
    events: DataFrame,
    steps: list[str],
    within: str = "1 hour",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Conversion funnel over ``steps`` (ordered event types): per
    step, how many keys reached it — anchored earliest-match
    semantics (the standard product-analytics definition): a key's
    funnel starts at its FIRST step-1 event; each later step matches
    the EARLIEST qualifying event at-or-after the previous step's
    match; the whole run must finish within ``within`` of the anchor.

    Returns (step_idx, step, n_converted, conversion) with
    conversion = n_converted / step-1 count — deterministic (min
    aggregates only, no ordering races), so a SQL oracle replays it.

    Scale shape: one filtered min-aggregate per step (len(steps)
    hash aggregates over the SAME scan lineage, each keyed on the
    funnel key) + len(steps)-1 narrow joins on (key, prev_ts) —
    never a self-join over raw events, never a window over the full
    timeline. Steps are few (a funnel is 3-7 stages); cost is
    O(steps x events-of-that-type)."""
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    spark = events.sparkSession
    ev = events.select(
        F.col(by).alias("k"), F.col(ts_col).alias("t"), F.col(type_col).alias("e")
    )
    anchor = (
        ev.filter(F.col("e") == steps[0])
        .groupBy("k")
        .agg(F.min("t").alias("t1"))
    )
    deadline = F.col("t1") + F.expr(f"INTERVAL {within}")
    # each step's frame is pinned before its count: the count action
    # materializes the checkpoint, so step i+1 joins against step i's
    # cached survivors instead of re-running the whole join chain
    # (without it the per-step counts re-execute a growing lineage —
    # O(steps^2) scans of the event table)
    cur = anchor.select(
        "k", "t1", F.col("t1").alias("tprev")
    ).localCheckpoint(eager=False)
    counts = [("0", steps[0], cur.count())]
    for i, s in enumerate(steps[1:], start=1):
        nxt = (
            ev.filter(F.col("e") == s)
            .join(cur.select("k", "t1", "tprev"), on="k")
            .filter((F.col("t") >= F.col("tprev")) & (F.col("t") <= deadline))
            .groupBy("k", "t1")
            .agg(F.min("t").alias("tprev"))
        ).localCheckpoint(eager=False)
        cur = nxt
        counts.append((str(i), s, nxt.count()))
    base = counts[0][2]
    return local_frame(
        spark,
        [
            (int(idx), step, int(n), (n / base) if base else 0.0)
            for idx, step, n in counts
        ],
        "step_idx int, step string, n_converted long, conversion double",
    )


def cohort_retention(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the period of
    their FIRST event; each (cohort, period_offset) cell counts the
    cohort's users active in that period, with ``retention`` =
    n_active / cohort size (the offset-0 count — every user is
    active in their own cohort period by construction, so the
    denominator row always exists).

    Output: (cohort date, period_offset int, n_active, retention
    rounded to 6 decimals), one row per non-empty cell.

    Scale shape: ONE shuffle on the user key — min(first period) and
    collect_set(distinct periods) ride the same map-side-combinable
    aggregate; per-user state is bounded by the number of periods in
    the timeline (e.g. 52 rows/user/year at week grain), NOT by event
    count. The explode emits user x active-period rows (the matrix's
    input mass, already deduplicated), and the final (cohort, offset)
    aggregate is matrix-sized. Cohort sizes join back broadcast. A
    windowed formulation (rank over user) would shuffle raw events;
    this never does."""
    if period not in ("day", "week", "month"):
        raise ValueError("period must be day, week or month")
    p = F.date_trunc(period, F.col(ts_col)).cast("date")
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(p).alias("cohort"), F.collect_set(p).alias("ps")
    )
    act = per_user.select("cohort", F.explode("ps").alias("p"))
    if period == "month":
        off = F.months_between(F.col("p"), F.col("cohort")).cast("int")
    else:
        days = F.datediff(F.col("p"), F.col("cohort"))
        off = (
            F.floor(days / F.lit(7)).cast("int")
            if period == "week"
            else days.cast("int")
        )
    cells = (
        act.select("cohort", off.alias("period_offset"))
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        # matrix-sized; checkpoint so the sizes branch and the join
        # don't each replay the raw scan + user shuffle
        .localCheckpoint(eager=False)
    )
    sizes = cells.filter(F.col("period_offset") == 0).select(
        "cohort", F.col("n_active").alias("__n0")
    )
    return (
        cells.join(F.broadcast(sizes), on="cohort")
        .withColumn(
            "retention",
            F.round(F.col("n_active") / F.col("__n0"), 6),
        )
        .drop("__n0")
    )
