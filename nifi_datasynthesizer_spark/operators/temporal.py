"""Temporal join operators: as-of (point-in-time) and range joins.

Spark has no native ASOF JOIN (DuckDB and kdb do); the scalable
re-expression here is the union-and-window trick: tag both sides,
union them, and carry the latest right-side attributes forward with a
window ordered by time within each key.  One shuffle on (key), no
inequality join, no cartesian blowup — the classic way to do
point-in-time correctness (e.g. joining events to the dimension
snapshot that was current WHEN the event happened) at 100 TB.

Range joins (event time ∈ [start, end)) bucket both sides to
fixed-width time buckets, join on (key?, bucket) equality, and
post-filter the interval predicate — turning an inequality join that
Spark would plan as BroadcastNestedLoop/cartesian into an equi-join
whose shuffle key is uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin

# Cap on the transition-matrix rows markov_stationary may collect to
# the driver (r11 verdict item 3): |states|² for any sane state
# vocabulary sits orders of magnitude below this; a high-cardinality
# state column (user ids, urls) must fail loudly instead of dragging
# an unbounded aggregate through py4j.
_MAX_MATRIX_ROWS = 1_000_000


def asof_join(left: DataFrame, right: DataFrame, on: str, ts: str,
              right_cols: list[str] | None = None,
              suffix: str = "_asof") -> DataFrame:
    """For each left row, attach the latest right row with the same
    ``on`` key and right.ts <= left.ts (strictly the most recent
    snapshot at or before the event).

    Plan: union of tagged rows → window(last over key ORDER BY ts,
    tag) → keep left rows.  The only exchange is one hash partition on
    ``on``; both sides are sorted once within partitions.  Rows with no
    prior snapshot keep NULLs.

    Tie rule: a right snapshot AT the same timestamp as the event is
    visible to it (right sorts before left on equal ts via the tag).
    """
    rcols = right_cols or [c for c in right.columns if c not in (on, ts)]
    lhs = left.select(
        F.col(on), F.col(ts),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in left.columns if c not in (on, ts)],
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"{c}{suffix}")
          for c in rcols])
    rhs = right.select(
        F.col(on), F.col(ts),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in left.columns if c not in (on, ts)],
        *[F.col(c).alias(f"{c}{suffix}") for c in rcols])
    u = lhs.unionByName(rhs)
    # right rows (tag 0) sort before left rows (tag 1) at equal ts, so
    # last_value(..., ignorenulls) sees same-instant snapshots
    w = (Window.partitionBy(on).orderBy(ts, "__is_left")
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = u.select(
        "*", *[F.last(f"{c}{suffix}", ignorenulls=True).over(w)
               .alias(f"__f_{c}") for c in rcols])
    return (filled.filter(F.col("__is_left") == 1)
            .select(F.col(on), F.col(ts),
                    *[F.col(c) for c in left.columns if c not in (on, ts)],
                    *[F.col(f"__f_{c}").alias(f"{c}{suffix}")
                      for c in rcols]))


def range_join(left: DataFrame, right: DataFrame, ts: str,
               start: str, end: str, bucket_width: int,
               on: str | None = None) -> DataFrame:
    """Join left rows (point ``ts``, a numeric epoch) to right rows
    (interval [start, end), same units) with equality on the optional
    ``on`` key.

    Scalable shape: right intervals explode to every ``bucket_width``
    bucket they cover (sequence → explode — intervals spanning B
    buckets emit B rows, so pick the width near the median interval
    length); left rows compute one bucket.  The join is then a pure
    equi-join on (bucket[, on]) with the interval predicate as a
    post-filter — no inequality-join cartesian fallback.
    """
    b = F.lit(bucket_width)
    lkey = [F.floor(F.col(ts) / b).alias("__bucket")] + \
        ([F.col(on)] if on else [])
    l = left.select("*", *lkey)
    r = right.select(
        "*",
        F.explode(F.sequence(F.floor(F.col(start) / b),
                             F.floor((F.col(end) - 1) / b))).alias("__bucket"))
    keys = ["__bucket"] + ([on] if on else [])
    out = (l.join(r, keys)
           .filter((F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end)))
           .drop("__bucket"))
    return out


def funnel_steps(events: DataFrame, steps: list[str], key: str = "user_id",
                 ts: str = "ts", type_col: str = "event_type",
                 within_s: int | None = None,
                 per_step_cap: int = 64) -> DataFrame:
    """Ordered funnel analysis: for each key, how far through the
    ``steps`` sequence it progressed (each step must occur strictly
    after the previous one; optionally within ``within_s`` seconds of
    step 1).  The product-analytics staple (signup → view → purchase).

    Plan shape for 100 TB: events filtered to the step types (pushed to
    the scan), ONE shuffle on ``key``, then a per-key aggregate that
    computes the earliest valid completion time of each step with
    ``min(case when ...)`` chains — no self-joins, no explode, no
    window sort cascade: step k's earliest time only needs step k-1's,
    so the whole funnel is one groupBy over (key, per-step min-ts
    conditional aggregates) evaluated in two passes (t1 then t2..tk
    from the per-key event list via min-over-filter on the grouped
    arrays).  Output: (key, max_step, t_first, t_last).

    Skew note: each step's time array is capped to its
    ``per_step_cap`` EARLIEST timestamps (slice of the sorted list) —
    a pathological hot key (bot, test account) with millions of events
    cannot blow up the downstream min-over-filter fold.  The funnel
    answer is unchanged whenever each step's matching timestamp sits
    among that step's ``per_step_cap`` earliest, which holds for any
    cap ≥ funnel depth when events arrive loosely ordered; the cap is
    part of the operator's contract and the oracle mirrors it.
    """
    from pyspark.sql import functions as F

    tss = F.unix_micros(F.col(ts))
    ev = (events.filter(F.col(type_col).isin(steps))
          .select(F.col(key), F.col(type_col).alias("st"), tss.alias("tus")))
    # per key: collect each step's sorted event times once (array_sort
    # over collect_list — one shuffle, map-side combined lists), capped
    # to the earliest per_step_cap entries per step
    aggs = [F.slice(F.array_sort(
                F.collect_list(F.when(F.col("st") == s, F.col("tus")))),
                1, per_step_cap)
            .alias(f"ts_{i}") for i, s in enumerate(steps)]
    g = ev.groupBy(key).agg(*aggs)
    # fold: t_i = min element of ts_i strictly greater than t_{i-1}
    # (F.get: null — not an ANSI error — on the empty array of a key
    # that never did step 1)
    t_prev = F.get(F.col("ts_0"), 0)
    t_first = t_prev
    reached = F.when(t_prev.isNotNull(), 1).otherwise(0)
    t_last = t_prev
    deadline = (t_prev + F.lit(within_s * 1_000_000)
                if within_s is not None else None)
    for i in range(1, len(steps)):
        arr = F.col(f"ts_{i}")
        nxt = F.array_min(F.filter(
            arr, lambda x: x > t_last if deadline is None
            else (x > t_last) & (x <= deadline)))
        reached = reached + F.when(nxt.isNotNull(), 1).otherwise(0)
        # once a step is missing, nxt is null and later steps see null
        # t_last → their filters yield null too (monotone short-circuit)
        t_last = nxt
    return (g.select(F.col(key),
                     reached.alias("max_step"),
                     t_first.alias("t_first_us"),
                     t_last.alias("t_final_us"))
            .filter(F.col("max_step") > 0))


def transition_matrix(events: DataFrame, key: str = "user_id",
                      ts: str = "ts", state: str = "event_type",
                      id_col: str = "event_id") -> DataFrame:
    """Event path analysis: the Markov transition matrix over
    consecutive per-user event types — 'what do users do AFTER a
    view?' — plus row-normalized probabilities in integer ppm.

    Plan shape: ONE shuffle on the user key for the lag window (the
    same partitioning sessionization uses), then a map-side-combined
    count to the |states|² matrix and a tiny broadcast-back of row
    totals.  Ties in ``ts`` break on the event id, so the sequence —
    and the matrix — is deterministic under any partitioning.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(id_col))
    seq = events.select(
        F.col(state).alias("src"),
        F.lag(state, -1).over(w).alias("dst"))
    pairs = (seq.filter(F.col("dst").isNotNull())
             .groupBy("src", "dst").agg(F.count("*").alias("n")))
    totals = pairs.groupBy("src").agg(F.sum("n").alias("row_n"))
    return (pairs.join(F.broadcast(totals), "src")
            .select("src", "dst", "n",
                    F.floor(F.col("n") * 1_000_000 / F.col("row_n"))
                    .cast("long").alias("p_ppm")))


def ohlc(events: DataFrame, key: str = "user_id", ts: str = "ts",
         value: str = "value", id_col: str = "event_id",
         bucket_s: int = 86400) -> DataFrame:
    """Time-bucketed OHLC (open/high/low/close) downsampling — the
    hypertable-rollup / financial-bar operator.

    One shuffle on (key, bucket); open/close are ``min_by``/``max_by``
    ordered by (ts, id) so simultaneous ticks still pick a
    deterministic row; values are quantized to integer cents so
    cross-engine compares are exact.  At 100 TB this is the canonical
    pre-aggregation that turns a raw tick table into a bar table
    1000× smaller.
    """
    from pyspark.sql import functions as F

    tus = F.unix_micros(F.col(ts))
    cents = F.floor(F.col(value) * 100).cast("long")
    e = events.select(F.col(key),
                      F.expr(f"unix_micros({ts}) div {bucket_s * 1_000_000}")
                      .alias("bucket"),
                      F.struct(tus.alias("t"),
                               F.col(id_col).alias("i")).alias("ord"),
                      cents.alias("cents"))
    return (e.groupBy(key, "bucket")
            .agg(F.min_by("cents", "ord").alias("open_c"),
                 F.max("cents").alias("high_c"),
                 F.min("cents").alias("low_c"),
                 F.max_by("cents", "ord").alias("close_c"),
                 F.count("*").alias("n_ticks")))


def anomalies_zscore(events: DataFrame, key: str = "user_id",
                     value: str = "value", id_col: str = "event_id",
                     z: int = 2) -> DataFrame:
    """Per-key z-score outliers computed in EXACT integer arithmetic.

    ``|x - mean| > z·stddev`` rearranges to
    ``(c·n - s)² > z²·(n·ss - s²)`` over integer cents
    (c = cents, n = count, s = Σc, ss = Σc²) — no float mean, no float
    variance, no accumulation-order drift: the flag is bit-identical on
    any engine, partitioning, or retry.  Plan: ONE shuffle on ``key``
    (window aggregates n/s/ss over the partition), then a narrow
    integer filter.  Bounds: |c| ≤ 1e7 cents and n ≤ 1e7 rows/key keep
    every intermediate < 2⁶³ comfortably for real workloads; beyond
    that, switch s/ss to DECIMAL(38) — same algebra.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    c = F.floor(F.col(value) * 100).cast("long")
    e = events.select(F.col(key), F.col(id_col), c.alias("c"))
    w = Window.partitionBy(key)
    e = (e.withColumn("n", F.count("*").over(w))
         .withColumn("s", F.sum("c").over(w))
         .withColumn("ss", F.sum(F.col("c") * F.col("c")).over(w)))
    dev = F.col("c") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (e.filter(dev * dev > F.lit(z * z) * var_n2)
            .select(key, id_col, "c", "n"))


def scd2_from_events(events: DataFrame, key: str = "user_id", ts: str = "ts",
                     value: str = "value", id_col: str = "event_id",
                     bucket_s: int = 86400) -> DataFrame:
    """Build a slowly-changing-dimension type-2 table from an event
    stream: one validity interval per (key, change point), closed by
    the next change — the warehouse pattern for point-in-time joins
    (the other side of :func:`asof_join`).

    Per (key, bucket) the LAST event's value wins — max_by on
    (ts, ``id_col``), the same tie-break rule as :func:`ohlc`, so a
    same-timestamp tie picks the latest event id, not the highest
    value; ``valid_to`` is the next version's ``valid_from`` (open
    interval = NULL → sentinel 2**62 so the column stays join-friendly
    without nullable range logic).  ONE shuffle on ``key`` covers both
    the in-bucket latest and the lead.  Values in integer cents —
    exact across engines.
    """
    from pyspark.sql import functions as F

    tus = F.unix_micros(F.col(ts))
    e = events.select(F.col(key),
                      F.expr(f"unix_micros({ts}) div {bucket_s * 1_000_000}")
                      .alias("vfrom"),
                      tus.alias("tus"),
                      F.col(id_col).alias("__id"),
                      F.floor(F.col(value) * 100).cast("long").alias("cents"))
    w_latest = (Window.partitionBy(key, "vfrom")
                .orderBy(F.desc("tus"), F.desc("__id")))
    latest = (e.withColumn("__rn", F.row_number().over(w_latest))
              .filter(F.col("__rn") == 1).drop("__rn", "tus", "__id"))
    w_lead = Window.partitionBy(key).orderBy("vfrom")
    return (latest.select(
        F.col(key), F.col("vfrom"),
        F.coalesce(F.lead("vfrom").over(w_lead), F.lit(2 ** 62))
        .alias("vto"),
        F.col("cents").alias("value_cents")))


def ewma_daily(events: DataFrame, key: str = "user_id", ts: str = "ts",
               value: str = "value", terms: int = 8) -> DataFrame:
    """Exponentially-weighted moving average of the per-(key, day)
    value series — the smoothing/velocity feature every behavioral
    model consumes.

    Exactness: the decay factor is 1/2 per observation, so the EWMA
    truncates to ``terms`` lags of integer floor-halvings
    (``Σ_d floor(cents_{t-d} / 2^d)`` — beyond 8 terms the
    contribution is < 1 cent anyway).  No float powers, no recursive
    state: bit-identical on any engine/partitioning.  Decay steps on
    OBSERVED days (pandas ``ewm`` row semantics); compose with
    :func:`gap_fill_daily` first for calendar-day decay.

    Plan: one shuffle to (key, day) daily sums, then ONE window sort
    per key evaluates all ``terms`` lags — lag reuses the same sorted
    frame, no self-joins.
    """
    from pyspark.sql import functions as F

    day = F.expr(f"unix_micros({ts}) div 86400000000")
    daily = (events.select(F.col(key), day.alias("day"),
                           F.floor(F.col(value) * 100).cast("long")
                           .alias("cents"))
             .groupBy(key, "day").agg(F.sum("cents").alias("cents")))
    w = Window.partitionBy(key).orderBy("day")
    ewma = None
    for d in range(terms):
        term = F.floor(F.coalesce(F.lag("cents", d).over(w), F.lit(0))
                       / F.lit(2 ** d)).cast("long")
        ewma = term if ewma is None else ewma + term
    return daily.select(key, "day", "cents", ewma.alias("ewma_q"))


def gap_fill_daily(events: DataFrame, key: str = "user_id", ts: str = "ts",
                   value: str = "value") -> DataFrame:
    """Time-series gap filling: the (key, day) activity series with
    missing days materialized and forward-filled from the last
    observed value — the resampling step every downstream
    window/forecast consumer assumes has already happened.

    Plan shape: daily integer-cents sums (one shuffle on (key, day)),
    then everything else reuses ONE (key)-partitioned window pass: a
    lag gives each observed day its predecessor, sequence→explode
    materializes exactly the gap days in between (narrow — expansion
    bounded by the span, each missing day generated exactly once),
    and a last-ignorenulls window carries the previous observed value
    into the gap rows.  No joins, no second shuffle key.
    """
    from pyspark.sql import functions as F

    day = F.expr(f"unix_micros({ts}) div 86400000000")
    daily = (events.select(F.col(key), day.alias("day"),
                           F.floor(F.col(value) * 100).cast("long")
                           .alias("cents"))
             .groupBy(key, "day").agg(F.sum("cents").alias("cents")))
    wlag = Window.partitionBy(key).orderBy("day")
    with_prev = daily.withColumn("__prev", F.lag("day").over(wlag))
    # each observed day emits itself plus the gap days since the
    # previous observation; gap rows carry cents=NULL until the fill
    tagged = with_prev.select(
        F.col(key), F.col("day").alias("obs_day"), "cents",
        F.explode(F.sequence(
            F.coalesce(F.col("__prev") + 1, F.col("day")),
            F.col("day"))).alias("day"))
    wfill = (Window.partitionBy(key).orderBy("day")
             .rowsBetween(Window.unboundedPreceding, -1))
    observed = F.col("day") == F.col("obs_day")
    return tagged.select(
        F.col(key), "day",
        F.when(observed, F.col("cents"))
        .otherwise(F.last(F.when(observed, F.col("cents")),
                          ignorenulls=True).over(wfill)).alias("cents"),
        observed.cast("int").alias("observed"))


def cdc_apply(changes: DataFrame, key_col: str = "user_id",
              ts_col: str = "ts", op_col: str = "op",
              seq_col: str = "event_id") -> DataFrame:
    """Apply a CDC changelog to produce the final table state — the
    lakehouse MERGE primitive (Debezium/Delta-style upsert streams):
    per key, the LATEST change wins (ordered by event time, then the
    changelog sequence id for same-timestamp determinism); a final
    ``delete`` removes the key entirely.

    Plan shape for 100 TB of changelog: ONE shuffle on the key and a
    max_by-style aggregation — per-key state collapses map-side (the
    partial aggregate keeps only each partition's latest row), so
    skewed keys cost partials, not a sorted window over the full
    history.  Returns (key, last_ts, last_seq, last_op, n_changes)
    for surviving (non-deleted) keys.
    """
    latest = F.max(F.struct(F.col(ts_col).alias("ts"),
                            F.col(seq_col).alias("seq"),
                            F.col(op_col).alias("op"))).alias("last")
    agg = (changes.groupBy(F.col(key_col).alias("key"))
           .agg(latest, F.count("*").alias("n_changes")))
    return (agg.filter(F.col("last.op") != "delete")
            .select(F.col("key").alias(key_col),
                    F.col("last.ts").alias("last_ts"),
                    F.col("last.seq").alias("last_seq"),
                    F.col("last.op").alias("last_op"),
                    "n_changes"))


def last_touch_attribution(events: DataFrame,
                           touch_types: tuple[str, ...] = ("click", "view"),
                           conv_type: str = "purchase",
                           lookback_us: int = 7 * 86400 * 1_000_000,
                           key_col: str = "user_id", ts_col: str = "ts",
                           type_col: str = "event_type",
                           id_col: str = "event_id",
                           value_col: str = "value") -> DataFrame:
    """Last-touch marketing attribution: credit each conversion to the
    most recent preceding touch event (click/view) by the same user
    within a lookback window.  The classic formulation is an
    inequality self-join (touch.ts <= conv.ts AND touch.ts >= conv.ts
    - L) — quadratic per hot user and planned as a nested-loop join.
    The scalable shape used here is the same union-and-window trick as
    :func:`asof_join`: ONE window over (user ORDER BY ts, id) carries
    the running latest touch struct forward, and the lookback bound is
    a post-filter on the carried timestamp.  One shuffle on the user
    key, zero joins, linear in events per user.

    Tie rule: a touch is visible to a conversion iff (ts, event_id)
    sorts strictly before it — same-timestamp touches with a smaller
    event id count, later ones don't (deterministic cross-engine).
    Values are quantized to integer cents (floor) so the sums are
    engine-exact.  Conversions with no in-window touch keep NULL touch
    columns (they are "unattributed" — direct traffic).
    """
    tus = F.unix_micros(F.col(ts_col))
    tagged = events.select(
        F.col(key_col), F.col(id_col), F.col(type_col),
        tus.alias("tus"),
        F.floor(F.col(value_col) * 100).cast("long").alias("value_cents"))
    touch = F.when(
        F.col(type_col).isin(*touch_types),
        F.struct(F.col("tus").alias("t_tus"),
                 F.col(id_col).alias("t_id"),
                 F.col(type_col).alias("t_type")))
    w = (Window.partitionBy(key_col)
         .orderBy("tus", id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    carried = tagged.withColumn("lt", F.max(touch).over(w))
    in_window = F.col("lt.t_tus") >= F.col("tus") - F.lit(lookback_us)
    return (carried.filter(F.col(type_col) == conv_type)
            .select(F.col(id_col).alias("conv_id"), F.col(key_col),
                    F.col("tus").alias("conv_tus"), "value_cents",
                    F.when(in_window, F.col("lt.t_id")).alias("touch_id"),
                    F.when(in_window, F.col("lt.t_type")).alias("touch_type"),
                    F.when(in_window, F.col("lt.t_tus")).alias("touch_tus")))


def frequent_sequences(events: DataFrame, n: int = 3, top_k: int = 20,
                       key: str = "user_id", ts: str = "ts",
                       state: str = "event_type",
                       id_col: str = "event_id") -> DataFrame:
    """Sequential pattern mining, the n-gram special case: the top-k
    most frequent length-``n`` consecutive event-type sequences across
    all per-user timelines ("view→click→purchase happens 4 102
    times") with support in ppm of all n-windows.  Full sequential
    mining (PrefixSpan) explodes combinatorially; contiguous n-grams
    are the production 80% answer for funnel discovery and are pure
    column algebra.

    Plan: the SAME single user-key shuffle the transition matrix
    uses — (n-1) lead() columns over one window — then a map-side-
    combined count per n-gram and one tiny total broadcast.  Rank is
    over the |distinct n-grams| aggregate, not the events.  Ties in
    ``ts`` break on the event id; ties in count break on the sequence
    string, so top-k is deterministic cross-engine.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(id_col))
    cols = [F.col(state)] + [F.lag(state, -i).over(w).alias(f"s{i}")
                             for i in range(1, n)]
    grams = events.select(F.concat_ws(">", *cols).alias("seq"),
                          F.lag(state, -(n - 1)).over(w).alias("last"))
    # the aggregate is shared by the ranked output AND the total —
    # pin it or the 1-row total replays the window+scan lineage
    # (the r5 rescan-audit lesson, caught again by the plan audit)
    counts = pin(grams.filter(F.col("last").isNotNull())
                 .groupBy("seq").agg(F.count("*").alias("support")))
    counts.count()
    total = counts.agg(F.sum("support").alias("tot"))
    ranked = (counts.crossJoin(F.broadcast(total))
              .select("seq", "support",
                      F.expr("CAST(support * 1000000 div tot AS BIGINT)")
                      .alias("support_ppm")))
    rk = Window.orderBy(F.desc("support"), F.asc("seq"))
    return (ranked.withColumn("rank", F.row_number().over(rk))
            .filter(F.col("rank") <= top_k))


def dwell_times(events: DataFrame, key: str = "user_id", ts: str = "ts",
                state: str = "event_type",
                id_col: str = "event_id") -> DataFrame:
    """Time-in-state analysis: for every observed state transition
    src→dst, the distribution of dwell times (how long users sit in
    ``src`` before moving to ``dst``) — the companion to the
    transition matrix that turns a clickstream into a timed process
    model (queue mining / funnel latency).

    Same single user-key shuffle as the transition matrix: one lead()
    window yields (src, dst, gap), then a map-side-combined aggregate
    to the |states|² matrix of count / total / min / max / mean gap.
    Gaps are integer MICROSECONDS end-to-end (unix_micros), so every
    statistic — including the floor-division mean — is engine-exact.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(id_col))
    tus = F.unix_micros(F.col(ts))
    seq = events.select(
        F.col(state).alias("src"),
        F.lag(state, -1).over(w).alias("dst"),
        (F.lag(tus, -1).over(w) - tus).alias("gap_us"))
    return (seq.filter(F.col("dst").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count("*").alias("n"),
                 F.sum("gap_us").alias("total_us"),
                 F.min("gap_us").alias("min_us"),
                 F.max("gap_us").alias("max_us"))
            .withColumn("mean_us",
                        F.expr("CAST(total_us div n AS BIGINT)")))


def rolling_active_users(events: DataFrame, window_days: int = 7,
                         key: str = "user_id", ts: str = "ts") -> DataFrame:
    """Rolling N-day active users (WAU when N=7): for every calendar
    day, how many distinct users had ≥1 event in the trailing N days.
    Distinct counts don't sum, so the rolling window CANNOT be a
    windowed aggregate over daily distincts — the textbook trap.  The
    scale shape: collapse to distinct (user, active-day) pairs (one
    map-side-combined shuffle), explode each pair to the ≤N report
    days it contributes to, and re-distinct — |users|·N rows max,
    independent of event volume; 100 TB of events collapses at the
    first aggregate.  Report days are bounded to days that actually
    have events (no synthetic trailing tail).  Returns (day, wau,
    dau) — the trailing-window and same-day distinct counts.
    """
    day = F.to_date(F.col(ts))
    # the distinct (user, day) frame feeds three consumers (contrib,
    # report-day set, dau) — pin it so the corpus is scanned once
    pairs = pin(events.select(F.col(key).alias("u"),
                              day.alias("d")).distinct())
    pairs.count()
    contrib = (pairs.select(
        "u", "d",
        F.explode(F.sequence(F.col("d"),
                             F.date_add(F.col("d"), window_days - 1)))
        .alias("report_day")))
    days = pairs.select(F.col("d").alias("report_day")).distinct()
    wau = (contrib.join(days, "report_day")   # only real event days
           .groupBy("report_day")
           .agg(F.countDistinct("u").alias("wau")))
    dau = pairs.groupBy(F.col("d").alias("report_day")) \
        .agg(F.countDistinct("u").alias("dau"))
    return (wau.join(dau, "report_day")
            .select(F.col("report_day").alias("day"), "wau", "dau"))


def rfm_segments(events: DataFrame, key: str = "user_id",
                 ts: str = "ts", value: str = "value",
                 k: int = 5) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary),
    each dimension scored 1..k by which value-quantile of the
    per-user distribution it falls in — the classic marketing-
    analytics rollup, and a stress test of quantile assignment at
    scale.

    The naive shape is three ``ntile()`` calls — three global sorts
    over the user frame.  The scale shape (same trick as
    corpus_curriculum): per-user (r, f, m) in ONE map-side-combined
    aggregate over the events, then each dimension's full CDF from a
    tiny per-distinct-value histogram, the k−1 boundary values
    collapse to one broadcast row, and the score is a narrow
    comparison — no sort, no second shuffle of the user frame.
    Boundary rule: b_q = min value with CDF ≥ q·N/k; bucket =
    #{q : value > b_q}.  Recency is inverted (recent = high score).

    Monetary is exact integer cents; recency is whole days behind the
    corpus max day.  Returns (user, r_days, f_events, m_cents,
    r_score, f_score, m_score, segment) with segment = r·100+f·10+m.
    """
    day = F.to_date(F.col(ts))
    per = pin(events
              .select(F.col(key), day.alias("d"),
                      F.floor(F.col(value) * 100).cast("long")
                      .alias("cents"))
              .groupBy(key)
              .agg(F.max("d").alias("last_day"),
                   F.count("*").cast("long").alias("f_events"),
                   F.sum("cents").alias("m_cents")))
    per.count()
    anchor = per.agg(F.max("last_day").alias("anchor"))
    per2 = pin(per.crossJoin(F.broadcast(anchor))
               .select(key,
                       F.datediff("anchor", "last_day").cast("long")
                       .alias("r_days"), "f_events", "m_cents"))
    per2.count()

    def bounds(col: str):
        hist = per2.groupBy(F.col(col).alias("v")) \
            .agg(F.count("*").alias("c"))
        cum_w = (Window.orderBy("v")
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
        cdf = (hist.withColumn("cum", F.sum("c").over(cum_w))
               .crossJoin(F.broadcast(
                   hist.agg(F.sum("c").alias("n")))))
        return cdf.agg(*[
            F.min(F.when(F.col("cum") * k >= q * F.col("n"),
                         F.col("v"))).alias(f"{col}_b{q}")
            for q in range(1, k)])

    bs = (bounds("r_days").crossJoin(bounds("f_events"))
          .crossJoin(bounds("m_cents")))

    def bucket(col: str):
        return sum((F.col(col) > F.col(f"{col}_b{q}")).cast("long")
                   for q in range(1, k))

    r_score = F.lit(k) - bucket("r_days")      # recent = high
    f_score = bucket("f_events") + 1
    m_score = bucket("m_cents") + 1
    return (per2.crossJoin(F.broadcast(bs))
            .select(key, "r_days", "f_events", "m_cents",
                    r_score.alias("r_score"), f_score.alias("f_score"),
                    m_score.alias("m_score"),
                    (r_score * 100 + f_score * 10 + m_score)
                    .alias("segment")))


def markov_stationary(events: DataFrame, iters: int = 10,
                      key: str = "user_id", ts: str = "ts",
                      state: str = "event_type",
                      id_col: str = "event_id") -> DataFrame:
    """Stationary distribution of the user-journey Markov chain —
    'where do journeys spend their time at equilibrium', the chain-
    level summary the raw transition matrix doesn't give (a state can
    be a popular NEXT step yet rarely OCCUPIED if everything leaves
    it immediately).

    Power iteration in integer ppm over the aggregated matrix: the
    ONLY corpus-scale work is the one user-key shuffle + count that
    builds the |states|² matrix (shared shape with
    :func:`transition_matrix`).  The matrix is bounded by the state
    vocabulary (event types), not the corpus, so it collects to the
    driver — the collect-k-literals pattern of clustering._update —
    and the ``iters`` rounds run as exact integer Python over those
    k² counts instead of ``iters`` tiny join jobs (r11: 10 rounds ×
    join+agg over a |states|²-row frame was pure job-scheduling
    overhead — ~6 s of an 8.5 s query at sf0.1; values are
    bit-identical because every step is the same truncating integer
    arithmetic: mass moves as ``π(s) · n(s→d) div n(s)``, and the
    lost remainder mass is the documented quantization, mirrored
    exactly by the oracle).  States with no outgoing edges shed their
    mass — the standard dangling-state behavior without damping.
    The driver loop has no lineage to cut.  Returns (state, pi_ppm)
    at the final round.
    """
    from pyspark.sql import types as T
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(id_col))
    seq = events.select(
        F.col(state).alias("src"),
        F.lag(state, -1).over(w).alias("dst"))
    rows = (seq.filter(F.col("dst").isNotNull())
            .groupBy("src", "dst").agg(F.count("*").alias("n"))
            .limit(_MAX_MATRIX_ROWS + 1)
            .collect())
    # The collect is bounded BY CONVENTION (the matrix is |states|²,
    # and states are event types), but nothing upstream stops a
    # high-cardinality `state` column from aggregating an unbounded
    # frame onto the driver.  The LIMIT above caps what can ever
    # cross the py4j boundary (it costs nothing when the matrix is
    # small — the limit sits above the final aggregate); hitting it
    # means the state vocabulary is not matrix-sized and the driver-
    # side power iteration is the wrong algorithm for this input.
    if len(rows) > _MAX_MATRIX_ROWS:
        raise ValueError(
            f"markov_stationary: transition matrix exceeds "
            f"{_MAX_MATRIX_ROWS} rows — the '{state}' column is too "
            f"high-cardinality for the driver-side power iteration; "
            f"bucket the state column or raise _MAX_MATRIX_ROWS")
    mat = [(r.src, r.dst, int(r.n)) for r in rows]
    totals: dict = {}
    for s, _, n in mat:
        totals[s] = totals.get(s, 0) + n
    states = list(dict.fromkeys([s for s, _, _ in mat]
                                + [d for _, d, _ in mat]))
    schema = T.StructType([
        T.StructField(state, events.schema[state].dataType),
        T.StructField("pi_ppm", T.LongType())])
    spark = events.sparkSession
    if not states:
        return spark.createDataFrame([], schema)
    k = len(states)
    # CAST(1000000 div k): non-negative operands, so Python // agrees
    # with Spark/DuckDB truncating div at every step below
    pi = {s: 1_000_000 // k for s in states}
    for _ in range(iters):
        moved: dict = {}
        for s, d, n in mat:
            moved[d] = moved.get(d, 0) + pi[s] * n // totals[s]
        pi = {s: moved.get(s, 0) for s in states}
    return spark.createDataFrame([(s, pi[s]) for s in states], schema)


def cohort_ltv(events: DataFrame, key: str = "user_id", ts: str = "ts",
               value: str = "value") -> DataFrame:
    """Cohort lifetime-value matrix: users cohorted by first-activity
    day, revenue rolled up per (cohort, days-since-signup) with the
    CUMULATIVE per-user average — the monetary twin of the retention
    matrix (retention counts who came back; LTV says what they were
    worth by day N, the number that prices acquisition).

    One map-side-combined per-user aggregate finds cohort day-0, a
    broadcast join tags each event (users ≪ events at any scale, and
    the join key is the events' natural partitioning), then the
    (cohort, age) rollup is tiny and the running cumsum is a window
    over |cohorts|·|ages| rows, not over events.  Exact integer
    cents; cumulative-per-user LTV in integer cents via truncating
    division.  Returns (cohort_day, age_days, n_users, cents,
    cum_cents, ltv_cents_per_user).
    """
    day = F.to_date(F.col(ts))
    ev = pin(events.select(F.col(key).alias("u"), day.alias("d"),
                           F.floor(F.col(value) * 100).cast("long")
                           .alias("cents")))
    ev.count()
    first = ev.groupBy("u").agg(F.min("d").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.countDistinct("u").alias("n_users"))
    tagged = (ev.join(F.broadcast(first), "u")
              .select("cohort_day",
                      F.datediff("d", "cohort_day").cast("long")
                      .alias("age_days"), "cents"))
    cells = tagged.groupBy("cohort_day", "age_days").agg(
        F.sum("cents").alias("cents"))
    w = (Window.partitionBy("cohort_day").orderBy("age_days")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (cells
            .withColumn("cum_cents", F.sum("cents").over(w))
            .join(F.broadcast(sizes), "cohort_day")
            .select("cohort_day", "age_days", "n_users", "cents",
                    F.col("cum_cents").cast("long").alias("cum_cents"),
                    F.expr("cum_cents div n_users").cast("long")
                    .alias("ltv_cents_per_user")))


# int64max div 1e6 — the largest chi-square intermediate whose q6
# scaling (x * 1_000_000) still fits BIGINT
_SRM_SAFE = 9_223_372_036_854


def srm_report(arm_counts: DataFrame, k: int,
               crit_q6: int = 16_266_000) -> DataFrame:
    """Sample-ratio-mismatch chi-square over a (arm, n_arm) frame —
    the pure-integer guardrail extracted from the events_ab_srm entry
    so its overflow bound is unit-testable.  With a uniform expected
    split the statistic is sum((k*n_i - N)^2) / (k*N), floored at 1e-6
    (q6) — one exact integer ratio, engine-identical.  ``crit_q6``
    defaults to the df=3 (k=4 arms), p=0.001 critical value 16.266;
    pass the right quantile for other k.

    Fails LOUD past the int64 bound (r11, was a documented cliff): if
    sum((k*n_i - N)^2) exceeds int64max/1e6 — or went negative, i.e.
    already wrapped under a non-ANSI session — the plan raises a
    descriptive error instead of returning a silently-scaled-garbage
    guardrail verdict.  (Under Spark 4's default ANSI mode the raw
    overflow would throw anyway; the guard makes the failure
    diagnosable and ANSI-independent.)  The bound is reached around
    N ~ 1.5e9 users at k=4 only under EXTREME skew; a uniform-ish
    split stays exact to far larger N.  Past it, reformulate on
    pre-bucketed histogram counts (divide all n_i by a common factor —
    chi-square scales linearly, flag threshold unchanged).

    Plan shape: the totals ride unpartitioned windows over the k-row
    arm frame (k rows on one partition — not a data-sized window), so
    the upstream distinct-user aggregation runs exactly once.
    """
    w = Window.partitionBy()
    per = (arm_counts
           .withColumn("n_total", F.sum("n_arm").over(w))
           .withColumn("dev2", F.expr(
               f"({k} * n_arm - n_total) * ({k} * n_arm - n_total)"))
           .withColumn("s", F.sum("dev2").over(w))
           .withColumn("s", F.expr(
               f"CASE WHEN s > {_SRM_SAFE} OR s < 0 THEN "
               f"CAST(raise_error('srm_report: sum((k*n_i-N)^2) "
               f"exceeds the int64-safe bound {_SRM_SAFE} — N too "
               f"large for q6 scaling; rerun on pre-divided histogram "
               f"counts') AS BIGINT) ELSE s END")))
    return (per.select(
        "arm",
        F.col("n_arm").cast("long").alias("n_arm"),
        F.col("n_total").cast("long").alias("n_total"),
        F.expr(f"(dev2 * 1000000) div ({k} * n_total)")
        .cast("long").alias("dev_q6"),
        F.expr(f"(s * 1000000) div ({k} * n_total)")
        .cast("long").alias("chi2_q6"),
        (F.expr(f"(s * 1000000) div ({k} * n_total)")
         > F.lit(crit_q6)).alias("srm_flag"))
        .orderBy("arm"))
