"""Event analytics operators (SURVEY §2.E): gap sessionization, ordered
funnels (optional bounded conversion window), retention cohorts,
transition matrices, conversion latency, session paths, RFM profiles.

The reference's hosted SQL surface serves exactly this kind of product
analytics over event streams (webhook-ingested tables; cf.
`/root/reference/patterns/node/node.py` stream semantics); here each is a
declarative Spark plan:

- ``sessionize``: one shuffle on the user key, then a single window pass
  (lag + running sum) — per-user state is bounded, so the shape holds at
  any fan-out of users.
- ``funnel``: one scan of the step events and two exchanges — each
  user's ``(ts, event)`` pairs are collected and sorted in one array
  (hash exchange on the user key) and folded by an ``aggregate`` HOF
  step machine, then one global agg counts users per step. The events
  fact is never joined; the cost is that one user's step events are
  held in one array.
- ``retention_cohorts``: two hash aggs (first-touch, distinct activity)
  joined on the user key; the output is cohort × offset, tiny by
  construction.

All pure DataFrame expressions — no UDFs, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from basis_devkit_spark.session import local_relation


def _maybe_broadcast(df: DataFrame, flag: bool) -> DataFrame:
    """Broadcast hint gated by the caller: product-analytics user frames
    are usually ≪ the events fact (broadcast is right), but at extreme
    user cardinality the caller disables the hint and lets Catalyst/AQE
    pick a shuffled hash join on the user key."""
    return F.broadcast(df) if flag else df


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    id_col: str = "event_id",
) -> DataFrame:
    """Assign gap-based sessions per user: a new session starts when the
    time since the previous event exceeds ``gap_minutes``. Adds
    ``session_seq`` (1-based per user) to every event row.

    Interval comparison (not epoch arithmetic) keeps sub-second precision
    and replays identically in ANSI SQL engines. Ties on ``ts`` are
    ordered by ``id_col`` so the assignment is deterministic.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_ts = F.lag(ts_col).over(w)
    new_sess = (
        prev_ts.isNull()
        | (F.col(ts_col) - prev_ts > F.expr(f"interval {int(gap_minutes)} minutes"))
    ).cast("int")
    running = Window.partitionBy(user_col).orderBy(ts_col, id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_seq", F.sum(new_sess).over(running).cast("int"))


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-session roll-up over :func:`sessionize`: event count, start,
    end, duration in seconds."""
    s = sessionize(df, user_col, ts_col, gap_minutes, id_col)
    return s.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            # ts may be TIMESTAMP_NTZ (parquet micros); unix_micros wants
            # TIMESTAMP — the session runs UTC, so the cast is lossless.
            F.unix_micros(F.max(ts_col).cast("timestamp"))
            - F.unix_micros(F.min(ts_col).cast("timestamp"))
        ).alias("duration_us"),
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    within_minutes: int | None = None,
) -> DataFrame:
    """Strictly-ordered funnel: for each step k, count users whose
    earliest qualifying step-k event happened AFTER their earliest
    qualifying step-(k-1) event. Returns one row per step:
    ``(step, event_type, users)``, every field non-nullable. With
    ``within_minutes``, every later step must also land within that
    window of the user's FIRST-step event (the standard bounded
    conversion window).

    Shape at scale: one scan of the step events and two exchanges. Per
    user, ``collect_list`` + ``array_sort`` orders the ``(ts, event)``
    pairs (the hash exchange on the user key) and an ``aggregate`` HOF
    walks them over an ``(idx, t_last, t_first)`` state: the sorted walk
    meets each step's earliest qualifying event first, so advancing on
    it reproduces the per-step MIN definition. One global agg counts
    users per reached step (the second exchange). Trade-off: a user's
    step events are held in one array, so per-user memory grows with
    the busiest user's step-event count.

    NULLs follow the SQL definition (``queries/analytics.py`` e02/e02b):
    a NULL user counts at step 1 only (a group, but never joinable); a
    step-1 event with NULL ``ts`` counts its user at step 1 but anchors
    no later step, so NULL-ts events sort last and never advance a
    started walk.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    t = F.col(ts_col)
    per_user = (
        df.filter(F.col(event_col).isin(steps))
        .groupBy(F.col(user_col).alias("__u"))
        .agg(
            F.array_sort(
                F.collect_list(
                    # leading isNull key: NULL-ts events sort last
                    F.struct(
                        t.isNull().alias("n"),
                        t.alias("t"),
                        F.col(event_col).alias("e"),
                    )
                )
            ).alias("__evs")
        )
    )
    ts_type = df.schema[ts_col].dataType
    init = F.struct(
        F.lit(0).alias("idx"),
        F.lit(None).cast(ts_type).alias("t_last"),
        F.lit(None).cast(ts_type).alias("t_first"),
    )
    steps_arr = F.array(*[F.lit(s) for s in steps])

    def advance(acc, x):
        # get() is NULL past the last step (element_at would raise, ANSI)
        is_next = x["e"] == F.get(steps_arr, acc["idx"])
        # NULL (no advance) when t_last is NULL or x["t"] is NULL
        later = x["t"] > acc["t_last"]
        if within_minutes is not None:
            window = F.expr(f"interval {int(within_minutes)} minutes")
            later = later & (x["t"] <= acc["t_first"] + window)
        return F.when(
            is_next & ((acc["idx"] == 0) | later),
            F.struct(
                (acc["idx"] + 1).alias("idx"),
                x["t"].alias("t_last"),
                F.coalesce(acc["t_first"], x["t"]).alias("t_first"),
            ),
        ).otherwise(acc)

    # least() skips NULLs: the cap applies to the NULL-user group only
    reached = F.least(
        F.aggregate(F.col("__evs"), init, advance)["idx"],
        F.when(F.col("__u").isNull(), F.lit(1)),
    )
    counts = per_user.select(reached.alias("__r")).agg(
        *[
            F.count(F.when(F.col("__r") >= k, 1)).alias(f"__s{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    # inline over an array of non-null structs keeps every output field
    # non-nullable (stack() would make them nullable)
    return counts.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("step"),
                        F.lit(s).alias("event_type"),
                        F.col(f"__s{k}").alias("users"),
                    )
                    for k, s in enumerate(steps, start=1)
                ]
            )
        )
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
    broadcast_user_frames: bool = True,
) -> DataFrame:
    """Cohort retention matrix: cohort = calendar start of the user's
    first-event period (``date_trunc('week')`` for 7-day periods), offset
    = whole periods between the cohort start and the activity day.
    Returns ``(cohort, period_offset, n_users)`` with distinct-user
    counts.
    """
    trunc_unit = "week" if period_days == 7 else "day"
    first = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc(trunc_unit, F.min(ts_col)).cast("date").alias("cohort")
    )
    activity = df.select(
        F.col(user_col).alias("__au"),
        F.col(ts_col).cast("date").alias("__day"),
    ).distinct()
    j = activity.join(
        _maybe_broadcast(first, broadcast_user_frames),
        F.col("__au") == F.col("__u"),
    )
    offset = F.floor(
        F.datediff(F.col("__day"), F.col("cohort")) / period_days
    ).cast("int")
    return (
        j.select("cohort", offset.alias("period_offset"), "__au")
        .distinct()
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order transition counts (Markov matrix): for each user's
    time-ordered event sequence, count ``(prev_event -> event)`` pairs
    across the corpus. One shuffle on the user key for the lag window,
    one hash agg on the (small) event-type pair space.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = df.select(
        F.lag(event_col).over(w).alias("prev_event"),
        F.col(event_col).alias("event"),
    ).filter(F.col("prev_event").isNotNull())
    return pairs.groupBy("prev_event", "event").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


def conversion_latency(
    df: DataFrame,
    from_event: str,
    to_event: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    broadcast_user_frames: bool = True,
) -> DataFrame:
    """Time from each user's first ``from_event`` to their first
    STRICTLY LATER ``to_event``. Returns one summary row:
    ``(n_converted, min_us, max_us, sum_us)`` — all exact integers, so
    any mean/rate derived downstream is reproducible across engines.

    Two conditional-MIN aggs with a broadcast user-frame join between
    them; the fact never self-joins.
    """
    src = df.filter(F.col(event_col) == from_event).groupBy(
        F.col(user_col).alias("__u")
    ).agg(F.min(ts_col).alias("__t0"))
    dst = (
        df.filter(F.col(event_col) == to_event)
        .select(F.col(user_col).alias("__du"), F.col(ts_col).alias("__t"))
        .join(
            _maybe_broadcast(src, broadcast_user_frames),
            F.col("__du") == F.col("__u"),
        )
        .filter(F.col("__t") > F.col("__t0"))
        .groupBy("__du", "__t0")
        .agg(F.min("__t").alias("__t1"))
    )
    lat = F.unix_micros(F.col("__t1").cast("timestamp")) - F.unix_micros(
        F.col("__t0").cast("timestamp")
    )
    return dst.select(lat.alias("__lat")).agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("__lat").alias("min_us"),
        F.max("__lat").alias("max_us"),
        F.sum("__lat").alias("sum_us"),
    )


def session_paths(
    df: DataFrame,
    k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    gap_minutes: int = 30,
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most common session paths: the time-ordered event-type
    sequence within each session (e.g. ``view->click->purchase``),
    counted across all sessions. Returns ``(path, n_sessions)`` with a
    deterministic (count desc, path) order, limited to ``k``.

    The per-session ordering is a sort-free re-pack: ``collect_list`` of
    ``(ts, id, event)`` structs + ``array_sort`` + ``transform`` — no
    per-session window, so the only shuffles are the sessionize user
    exchange and the path count agg; the final top-k is a
    TakeOrdered, never a global sort.
    """
    s = sessionize(df, user_col, ts_col, gap_minutes, id_col)
    paths = s.groupBy(user_col, "session_seq").agg(
        F.concat_ws(
            "->",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(ts_col, id_col, event_col))
                ),
                lambda x: x.getField(event_col),
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(k)
    )


def rfm_profiles(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    monetary_event: str | None = "purchase",
    event_col: str = "event_type",
) -> DataFrame:
    """RFM user profiles: recency (days from the user's last event to the
    corpus max timestamp), frequency (event count), monetary (decimal-
    exact sum of ``value_col`` over ``monetary_event`` rows; all events
    when None). One hash agg on the user key + a broadcast scalar for
    the corpus max — no windows, no self-joins.
    """
    mx = df.agg(F.max(ts_col).alias("__mx"))
    mon = (
        F.when(F.col(event_col) == monetary_event, F.col(value_col))
        if monetary_event is not None
        else F.col(value_col)
    )
    per_user = df.groupBy(user_col).agg(
        F.max(ts_col).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.coalesce(
            F.sum(mon.cast("decimal(18,6)")), F.lit(0).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("monetary"),
    )
    return per_user.join(F.broadcast(mx)).select(
        user_col,
        F.datediff(F.col("__mx").cast("date"), F.col("__last").cast("date"))
        .cast("int")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )


def inter_event_gaps(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user inter-event gap statistics — the engagement-cadence
    profile: count of gaps, min/max/sum of the microsecond deltas
    between consecutive events (all exact integers, so derived means
    are engine-reproducible). One lag window + one hash agg.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = t - F.lag(t).over(w)
    gaps = df.select(F.col(user_col), gap.alias("__gap")).filter(
        F.col("__gap").isNotNull()
    )
    return gaps.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("__gap").alias("min_gap_us"),
        F.max("__gap").alias("max_gap_us"),
        F.sum("__gap").alias("sum_gap_us"),
    )


def trailing_window_counts(
    df: DataFrame,
    minutes: int = 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-event trailing activity rate: for every event, the number of
    events by the same user in the preceding ``minutes`` window
    (inclusive of the event itself) — a TIME-RANGE window frame
    (``rangeBetween`` over epoch micros), not a row frame, so irregular
    event spacing is handled exactly. The real-time feature behind rate
    limiting / burst detection.
    """
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(user_col)
        .orderBy(t)
        .rangeBetween(-int(minutes) * 60_000_000, 0)
    )
    return df.select(
        user_col,
        ts_col,
        F.col(id_col),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
    )


def assign_experiment(
    df: DataFrame,
    arms: list[str],
    unit_col: str = "user_id",
    salt: str = "exp1",
) -> DataFrame:
    """Deterministic experiment-arm assignment: unit → arm via an
    md5-uniform bucket (stable across runs/engines, no RNG state; the
    same unit always lands in the same arm for a given salt). Adds an
    ``arm`` column.
    """
    if not arms:
        raise ValueError("need at least one arm")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(unit_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(len(arms)),
    )
    arm = None
    for i, name in enumerate(arms):
        arm = F.when(bucket == i, name) if arm is None else arm.when(bucket == i, name)
    return df.withColumn("arm", arm)


def srm_check(
    df: DataFrame,
    arms: list[str],
    unit_col: str = "user_id",
    salt: str = "exp1",
) -> DataFrame:
    """Sample-ratio-mismatch check for an equal-split assignment: per-arm
    DISTINCT unit counts plus the chi-square statistic against the
    uniform expectation — the standard A/B-test health gate. Exact
    integer counts; the chi2 float derives from them deterministically.
    Returns one row per arm: ``(arm, n_units, chi2)`` (chi2 repeated —
    it is a property of the whole assignment).
    """
    assigned = assign_experiment(
        df.select(unit_col).distinct(), arms, unit_col, salt
    )
    # left-join observed counts onto the FULL arm list so an arm that
    # received zero units still contributes its (0-expected)²/expected
    # term — the most severe mismatch must yield the largest chi2, not
    # silently vanish from the groupBy
    spark = df.sparkSession
    all_arms = local_relation(spark, [(a,) for a in arms], "arm string")
    observed = assigned.groupBy("arm").agg(F.count(F.lit(1)).alias("__obs"))
    counts = all_arms.join(observed, "arm", "left").select(
        "arm", F.coalesce("__obs", F.lit(0)).alias("n_units")
    )
    total = counts.agg(
        F.sum("n_units").alias("__total"), F.count(F.lit(1)).alias("__k")
    )
    j = counts.join(F.broadcast(total))
    expected = F.col("__total") / F.lit(len(arms))
    contrib = (F.col("n_units") - expected) * (F.col("n_units") - expected) / expected
    per_arm = j.select("arm", "n_units", contrib.alias("__c"))
    chi2 = per_arm.agg(
        (F.floor(F.sum("__c") * 1000000.0 + 0.5) / 1000000.0).alias("chi2")
    )
    return per_arm.join(F.broadcast(chi2)).select("arm", "n_units", "chi2")


def experiment_readout(
    df: DataFrame,
    arms: list[str],
    metric_event: str = "purchase",
    value_col: str = "value",
    unit_col: str = "user_id",
    event_col: str = "event_type",
    salt: str = "exp1",
) -> DataFrame:
    """Per-arm experiment readout: unit counts, converting-unit counts
    (did the metric event at least once), conversion rate, and the
    decimal-exact metric value sum — the A/B result table that pairs
    with :func:`assign_experiment` / :func:`srm_check`. All derived
    floats come from exact integers/decimals with explicit rounding.
    """
    assigned = assign_experiment(df, arms, unit_col, salt)
    per_unit = assigned.groupBy(F.col(unit_col).alias("__u"), "arm").agg(
        F.max((F.col(event_col) == metric_event).cast("int")).alias("__conv"),
        F.sum(
            F.when(F.col(event_col) == metric_event, F.col(value_col))
            .cast("decimal(18,6)")
        ).alias("__val"),
    )
    return per_unit.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("__conv").alias("n_converted"),
        (
            F.floor(
                F.sum("__conv") / F.count(F.lit(1)) * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("conversion_rate"),
        F.coalesce(F.sum("__val"), F.lit(0).cast("decimal(28,6)"))
        .cast("double")
        .alias("metric_value"),
    )


def activity_concentration(
    df: DataFrame,
    user_col: str = "user_id",
    top_fraction: float = 0.1,
) -> DataFrame:
    """Activity-concentration summary (the power-user metric): what share
    of all events comes from the top ``top_fraction`` of users by event
    count? One user hash-agg, then the top-k selection runs over the
    COUNT DISTRIBUTION, not the users: group the per-user counts by
    value, take a running user total down the distinct count values
    (a window over a frame bounded by the number of DISTINCT per-user
    counts — ~sqrt(2·total_events) worst case, thousands at 10⁹ users —
    never over the users themselves), and take each value's
    contribution as ``included_users × value``. Because users tied at
    the boundary count all contribute exactly the boundary value, this
    is EXACTLY the rank-window answer (any tie-break selects the same
    event mass) without ever sorting the per-user frame in one task.
    Exact integer sums, ceil'd top-k so the bucket is never empty.
    Returns one row: ``(n_users, top_k, top_events, total_events,
    top_share)``.
    """
    per_user = df.groupBy(user_col).agg(F.count(F.lit(1)).alias("__n"))
    dist = per_user.groupBy("__n").agg(F.count(F.lit(1)).alias("__users"))
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("__n").alias("total_events")
    )
    # running users at-or-above each count value, descending (bounded frame)
    wd = Window.orderBy(F.col("__n").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dist.withColumn("__cum", F.sum("__users").over(wd))
    k = F.ceil(F.col("n_users") * top_fraction).cast("long")
    j = cum.join(F.broadcast(totals)).withColumn("__k", k)
    # rows that contribute: some of their users rank <= k
    take = F.least(F.col("__users"), F.col("__k") - (F.col("__cum") - F.col("__users")))
    contrib = j.filter(F.col("__cum") - F.col("__users") < F.col("__k")).select(
        "n_users", "total_events", "__k", (take * F.col("__n")).alias("__ev")
    )
    return contrib.groupBy("n_users", "total_events").agg(
        F.max("__k").alias("top_k"),
        F.sum("__ev").alias("top_events"),
    ).select(
        "n_users", "top_k", "top_events", "total_events",
        (
            F.floor(
                F.col("top_events") / F.col("total_events") * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("top_share"),
    )


def dau_wau_stickiness(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Per-day engagement stickiness: ``(day, dau, wau, stickiness)``
    where ``dau`` = distinct users active that calendar day, ``wau`` =
    distinct users active in the trailing ``window_days`` window ending
    that day (inclusive), ``stickiness = dau/wau`` — the standard
    DAU/WAU product-analytics ratio. Only days with activity are
    reported.

    Scale shape: the raw event stream compacts FIRST to the distinct
    ``(day, user)`` activity relation (one hash shuffle — everything
    after is activity-sized, not event-sized); each activity row then
    contributes to the ``window_days`` trailing windows it falls in
    via a ``sequence``/``explode`` (bounded ×window_days fan-out of
    the compact relation), a second distinct, and one count per day.
    No windows, no self-join, no per-day rescans of the event table."""
    if window_days < 1:
        # sequence(day, day + (w-1)) with w < 1 would DESCEND and leak
        # future activity into the trailing window — refuse loudly
        raise ValueError("window_days must be >= 1")
    day = F.to_date(F.col(ts_col))
    act = (
        df.filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(day.alias("day"), F.col(user_col).alias("__u"))
        .distinct()
    )
    dau = act.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    contrib = act.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), int(window_days) - 1),
            )
        ).alias("day"),
        "__u",
    ).distinct()
    wau = contrib.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")  # inner: report only days with activity
        .select(
            "day",
            "dau",
            "wau",
            (
                F.floor(
                    F.col("dau") / F.col("wau") * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("stickiness"),
        )
    )


def touch_attribution(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str = "purchase",
    lookback_hours: int = 24,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Marketing-style touch attribution: for every CONVERSION event,
    the first- and last-touch channels among that user's ``touch_types``
    events inside the trailing ``lookback_hours`` window, plus the
    touch count and per-touch linear credit — the standard
    first/last/linear attribution triple, computed in ONE pass. Output
    one row per conversion: ``(conversion_id, user, conv_ts,
    conv_value, first_channel, last_channel, n_touches,
    linear_credit)``; conversions with no in-window touch keep NULL
    channels, 0 touches, NULL credit.

    Scale shape: conversions ⋈ touches is a per-user EQUI-join with the
    time window as a residual range predicate (fan-out bounded by one
    user's touches inside the lookback — never a cross join, never a
    global window); first/last are struct-min/max over (ts, touch id,
    channel) in the same per-conversion hash aggregate, ties broken by
    the unique touch id. Linear credit = value / n_touches with
    explicit floor-at-1e-6 rounding so both engines compute the
    identical double."""
    if lookback_hours < 1:
        raise ValueError("lookback_hours must be >= 1")
    conv = df.filter(F.col(type_col) == conversion_type).select(
        F.col(id_col).alias("conversion_id"),
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("conv_ts"),
        F.col(value_col).cast("double").alias("conv_value"),
    )
    touches = df.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("__tu"),
        F.col(ts_col).alias("__tts"),
        F.col(id_col).alias("__tid"),
        F.col(type_col).alias("__ch"),
    )
    lb = F.expr(f"interval {int(lookback_hours)} hours")
    j = conv.join(
        touches,
        (F.col("__u") == F.col("__tu"))
        & (F.col("__tts") <= F.col("conv_ts"))
        & (F.col("__tts") > F.col("conv_ts") - lb),
        "left",
    )
    key = F.struct(
        F.col("__tts").alias("t"), F.col("__tid").alias("i"),
        F.col("__ch").alias("c"),
    )
    agg = j.groupBy("conversion_id", "__u", "conv_ts", "conv_value").agg(
        F.min(F.when(F.col("__tid").isNotNull(), key)).alias("__first"),
        F.max(F.when(F.col("__tid").isNotNull(), key)).alias("__last"),
        F.sum(F.col("__tid").isNotNull().cast("long")).alias("n_touches"),
    )
    credit = F.when(
        F.col("n_touches") > 0,
        F.floor(
            F.col("conv_value") / F.col("n_touches") * 1000000.0 + 0.5
        )
        / 1000000.0,
    )
    return agg.select(
        "conversion_id",
        F.col("__u").alias(user_col),
        "conv_ts",
        "conv_value",
        F.col("__first.c").alias("first_channel"),
        F.col("__last.c").alias("last_channel"),
        F.col("n_touches").cast("long").alias("n_touches"),
        credit.alias("linear_credit"),
    )


def markov_attribution(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    event_col: str = "event_type",
    conv_event: str = "purchase",
    iters: int = 8,
    out_round: int = 6,
) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    model behind first/last/linear heuristics (:func:`touch_attribution`):
    build the first-order journey chain (start → touches → conv/null,
    journeys split at each conversion), compute the ``iters``-step
    absorption probability of converting, then for each channel the
    REMOVAL EFFECT — how much conversion probability disappears when
    every transition into that channel is redirected to null (the
    standard removal-effect construction). Credit is the normalized
    removal effect. Returns one row per channel:
    ``(channel, p_conv, p_conv_removed, removal_effect, credit,
    attributed_conversions)``.

    Determinism/parity contract — the pagerank trick, NO float op in
    the recursion: probabilities are exact scaled INTEGERS
    (``P ≈ p × 10⁹``) and each bounded-horizon step is
    ``P'(s) = (Σ_j n_sj·P(j)) div n_s`` — integer multiply, integer
    sum (associative: any partitioning, any engine), one integer floor
    division per state. A decimal-cast formulation was tried first and
    measurably diverged cross-engine (~1e-9 per step: a double→decimal
    cast disagrees when the value's shortest repr ends in '5' at the
    target scale); integers cannot. Only the final report divides
    integers into doubles (identical everywhere), floor-scaled. All
    chain variants (full + one per removed channel) iterate TOGETHER,
    keyed by variant, inside ONE recursive-CTE job (map<state,P> per
    variant, HOF matrix-vector step — no per-iteration job dispatch)
    over a (variants × states)-sized relation. Integer headroom: n·P ≤
    n·10⁹ — fine to ~10⁹ observed transitions per (src,dst) cell;
    beyond that lower the scale.

    Scale shape: the corpus-sized work is ONE lag window per user plus
    one (src, dst) hash count; everything after operates on the
    state-space-sized transition relation (channels² rows — the
    bounded artifact). No collect of per-user state, no Python.

    Reserved state names: ``start``, ``conv``, ``null`` label the
    synthetic chain states — an event TYPE with one of those literal
    names would alias them (rename such channels before calling)."""
    # lag AND lead over the SAME window spec: one sort per user, not
    # two (the descending row_number formulation costs a second one)
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    ev = df.select(
        F.col(user_col), F.col(ts_col), F.col(id_col),
        F.col(event_col).alias("__e"),
        F.lag(F.col(event_col)).over(w).alias("__prev"),
        F.lead(F.col(event_col)).over(w).isNull().alias("__last"),
    )
    src = F.when(
        F.col("__prev").isNull() | (F.col("__prev") == conv_event),
        F.lit("start"),
    ).otherwise(F.col("__prev"))
    dst = F.when(F.col("__e") == conv_event, F.lit("conv")).otherwise(
        F.col("__e")
    )
    edges = ev.select(src.alias("src"), dst.alias("dst")).unionAll(
        ev.filter(F.col("__last") & (F.col("__e") != conv_event)).select(
            F.col("__e").alias("src"), F.lit("null").alias("dst")
        )
    )
    t0 = edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    tsrc = t0.groupBy("src").agg(F.sum("__n").cast("long").alias("__ns"))
    # the ONE corpus-derived artifact (states² rows): everything below —
    # variants, conversion totals, all chain variants, the iteration —
    # derives from this checkpoint; the corpus is scanned exactly once
    tfull = (
        t0.join(tsrc, "src")
        .select("src", "dst", "__n", "__ns")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    # every observed non-conversion event type appears as some edge's
    # dst, so the channel list needs no second corpus scan
    # literal one-row relation via SQL VALUES, NOT createDataFrame: a
    # python-list createDataFrame goes through parallelize (a 32-task
    # python-RDD job per action, ~2-5 s of pure dispatch); VALUES is a
    # JVM-side LocalRelation (~0.1 s)
    variants = (
        tfull.filter(~F.col("dst").isin("conv", "null"))
        .select(F.col("dst").alias("variant"))
        .distinct()
        .unionAll(spark.sql("SELECT 'full' AS variant"))
        .coalesce(1)
        # channel-count rows, corpus-free lineage — but still
        # checkpointed: it seeds p_0 AND the chain, so an un-truncated
        # variant subtree would nest (and re-shuffle) once per
        # iteration inside the absorption loop
        .localCheckpoint(eager=True)
    )
    # per-variant chain: removing channel c redirects every transition
    # INTO c to null (rows merging there sum exact integer counts)
    tvar = variants.crossJoin(tfull).select(
        "variant", "src",
        F.when(
            (F.col("variant") != "full") & (F.col("dst") == F.col("variant")),
            F.lit("null"),
        ).otherwise(F.col("dst")).alias("dst"),
        "__n", "__ns",
    ).groupBy("variant", "src", "dst", "__ns").agg(
        F.sum("__n").cast("long").alias("__n")
    )
    absorbing = variants.crossJoin(
        spark.sql(
            "SELECT src, dst, CAST(__n AS BIGINT) AS __n,"
            " CAST(__ns AS BIGINT) AS __ns FROM VALUES"
            " ('conv', 'conv', 1, 1), ('null', 'null', 1, 1)"
            " AS t(src, dst, __n, __ns)"
        )
    ).select("variant", "src", "dst", "__n", "__ns")
    # materialize the (states²×variants)-sized chain ONCE: the
    # iteration below would otherwise embed the corpus-pass lineage
    # `iters` times over (recomputed per step and quadratic to analyze)
    # coalesce(1): the relation is states²×variants rows; without it the
    # checkpoint freezes the upstream shuffle partitioning and every
    # iteration step pays a thousand empty tasks
    chain = tvar.unionByName(absorbing).coalesce(1).localCheckpoint(
        eager=True
    )
    # bounded-horizon absorption on exact scaled integers, folded into
    # ONE recursive-CTE job (Spark 4 WITH RECURSIVE, the b51 facility):
    # the python-loop formulation ran `iters` dependent tiny jobs and
    # paid ~1 s of pure stage-dispatch floor per step on 35 rows of
    # state. Standard SQL forbids GROUP BY in the recursive member, so
    # the matrix-vector step is a higher-order function instead: the
    # chain pre-groups to ONE row per variant carrying
    # rows = [(src, ns, edges=[(dst, n)])...], the state vector is a
    # map<state, long>, and each step is
    #   P'(src) = (Σ_e n_e · P[dst_e]) div n_src
    # — integer multiply, associative integer sum (collect_list order
    # is irrelevant), one integer floor division: bit-identical to the
    # join/agg loop it replaces at any parallelism on any engine.
    scale_int = 10 ** 9
    # materialized: the recursive member re-evaluates its
    # non-recursive side every step — without the checkpoint each of
    # the `iters` steps would replay both collect_list shuffles
    mat = (
        chain.groupBy("variant", "src", "__ns")
        .agg(F.collect_list(F.struct("dst", "__n")).alias("edges"))
        .groupBy("variant")
        .agg(F.collect_list(F.struct("src", "__ns", "edges")).alias("rows"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    it = int(iters)
    # the matrix rides INSIDE the recursion state: the recursive member
    # is a pure projection over the materialized previous step — no
    # join, nothing re-evaluated per iteration
    pfinal = spark.sql(
        f"""
        WITH RECURSIVE absorb(variant, rows, pm, it) AS (
          SELECT variant, rows,
                 map('conv', CAST({scale_int} AS BIGINT)) AS pm,
                 0 AS it
          FROM {{mat}}
          UNION ALL
          SELECT variant, rows,
                 map_from_entries(
                   transform(rows, r -> named_struct(
                     'k', r.src,
                     'v', aggregate(
                            r.edges, CAST(0 AS BIGINT),
                            (acc, e) -> acc + e.__n * coalesce(
                                pm[e.dst], CAST(0 AS BIGINT)))
                          div r.__ns))) AS pm,
                 it + 1 AS it
          FROM absorb WHERE it < {it}
        )
        SELECT variant, coalesce(pm['start'], CAST(0 AS BIGINT)) AS __p
        FROM absorb WHERE it = {it}
        """,
        mat=mat,
    )
    # variants-sized; materialized because four consumers below (the
    # removed rows, the full-chain scalar, the normalizer, the output)
    # would each replay the whole recursion lineage
    # LEFT join back to the variant list: a variant whose removal
    # disconnects start from conv has p(start) = 0 by construction
    # (coalesce over the map lookup), but keep the join total anyway
    pstart = (
        variants.join(pfinal, "variant", "left")
        .select(
            "variant",
            F.coalesce("__p", F.lit(0).cast("long")).alias("p_conv"),
        )
        .localCheckpoint(eager=True)
    )
    full_p = pstart.filter(F.col("variant") == "full").select(
        F.col("p_conv").alias("__pf")
    )
    removed = pstart.filter(F.col("variant") != "full").select(
        F.col("variant").alias("channel"),
        F.col("p_conv").alias("p_conv_removed"),
    )
    # every conversion event emits exactly one dst='conv' edge
    n_conv = tfull.filter(F.col("dst") == "conv").agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("__nc")
    )
    # exact integer removal effects; only the FINAL projection divides
    # integers into doubles (one identical IEEE op per cell)
    re = (F.col("__pf") - F.col("p_conv_removed")).cast("long")
    scored = removed.crossJoin(F.broadcast(full_p)).withColumn(
        "removal_effect", re
    )
    tot = scored.agg(
        F.sum("removal_effect").cast("long").alias("__tot")
    )
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + 0.5) / scale
    prob = lambda c: fs(c.cast("double") / float(scale_int))
    return (
        scored.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n_conv))
        .select(
            "channel",
            prob(F.col("__pf")).alias("p_conv"),
            prob(F.col("p_conv_removed")).alias("p_conv_removed"),
            prob(F.col("removal_effect")).alias("removal_effect"),
            F.when(
                F.col("__tot") > 0,
                fs(
                    F.col("removal_effect").cast("double")
                    / F.col("__tot").cast("double")
                ),
            ).alias("credit"),
            F.when(
                F.col("__tot") > 0,
                fs(
                    F.col("removal_effect").cast("double")
                    / F.col("__tot").cast("double")
                    * F.col("__nc").cast("double")
                ),
            ).alias("attributed_conversions"),
        )
    )


def retention_decay_fit(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
    min_points: int = 3,
    out_round: int = 6,
) -> DataFrame:
    """Exponential retention-decay fit per cohort: OLS of
    ``log2(retention rate)`` on the period offset over the
    :func:`retention_cohorts` matrix — the curve every growth report
    summarizes a cohort table with. Returns per cohort
    ``(cohort, n_points, n0, decay_log2, half_life_periods, r2)``:
    ``decay_log2`` is the fitted slope (log2 retention lost per
    period), ``half_life_periods`` = −1/slope when decaying, NULL on a
    non-decaying fit. Cohorts with fewer than ``min_points`` post-start
    offsets are excluded (two points always fit perfectly — that is a
    line, not evidence).

    Parity contract: retention rates are integer ratios, and the fit
    consumes ``log2(n_t) − log2(n_0)`` where every log is a log OF AN
    INTEGER, DECIMAL(18,9)-rounded (the d60/d64 libm-wobble absorber);
    offsets are exact small integers (their double sums are exact in
    any order), the y-moments go through order-free DECIMAL sums, and
    the closed-form OLS runs on identical double moments — floor-
    scaled outputs.

    Scale shape: everything after the cohort matrix (cohort×offset
    rows — tiny by construction) is a per-cohort hash agg; the corpus
    cost is exactly :func:`retention_cohorts`'s two aggregates."""
    coh = retention_cohorts(df, user_col, ts_col, period_days)
    base = coh.filter(F.col("period_offset") == 0).select(
        "cohort", F.col("n_users").alias("n0")
    )
    tl = lambda c: (
        F.log2(c.cast("double")).cast("decimal(18,9)").cast("double")
    )
    pts = (
        coh.filter(F.col("period_offset") >= 1)
        .join(base, "cohort")
        .select(
            "cohort",
            "n0",
            F.col("period_offset").cast("double").alias("x"),
            (tl(F.col("n_users")) - tl(F.col("n0"))).alias("y"),
        )
    )
    dsum = lambda c: F.sum(c.cast("decimal(18,9)")).cast("double")
    m = pts.groupBy("cohort", "n0").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    ).filter(F.col("n") >= float(min_points))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + 0.5) / scale
    return m.select(
        "cohort",
        F.col("n").cast("long").alias("n_points"),
        "n0",
        fs(slope).alias("decay_log2"),
        F.when(slope < 0, fs(-1.0 / slope)).alias("half_life_periods"),
        F.when(dy > 0, fs(num * num / (den * dy))).alias("r2"),
    )


def transition_entropy(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    id_col: str = "event_id",
    out_round: int = 6,
) -> DataFrame:
    """Flow predictability per state: the Shannon entropy of each event
    type's NEXT-event distribution (first-order, the e04 transition
    matrix normalized), plus the modal next step and its share — 0 bits
    = a deterministic funnel step, log2(fan-out) = anything-goes
    browsing. The diagnostic read before trusting e18's first-order
    chain: states with near-uniform next-distributions are where the
    Markov assumption is weakest. Returns per source state
    ``(state, n_out, n_next_states, entropy_bits, top_next,
    top_share)``.

    Parity: counts are integers; entropy uses the d60 formula
    ``log2(n) − Σ c·log2(c) / n`` with each integer-log term
    DECIMAL(18,9)-rounded into an order-free exact sum; the modal next
    step breaks count ties to the lexicographically smallest state.

    Scale shape: one lag window per user + one (state, next) map-side-
    combinable count; everything after runs on the state-pair relation
    (event-type² rows)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = df.select(
        F.lag(F.col(event_col)).over(w).alias("state"),
        F.col(event_col).alias("next"),
    ).filter(F.col("state").isNotNull())
    cnt = pairs.groupBy("state", "next").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    term = (
        (F.col("c").cast("double") * F.log2(F.col("c").cast("double")))
        .cast("decimal(18,9)")
    )
    scale = float(10 ** out_round)
    agg = cnt.groupBy("state").agg(
        F.sum("c").cast("long").alias("n_out"),
        F.count(F.lit(1)).cast("long").alias("n_next_states"),
        F.sum(term).cast("double").alias("__s"),
        F.min(
            F.struct((-F.col("c")).alias("neg"), F.col("next").alias("nx"))
        ).alias("__m"),
    )
    n = F.col("n_out").cast("double")
    ent = F.floor((F.log2(n) - F.col("__s") / n) * scale + 0.5) / scale
    return agg.select(
        "state",
        "n_out",
        "n_next_states",
        ent.alias("entropy_bits"),
        F.col("__m.nx").alias("top_next"),
        (
            F.floor((-F.col("__m.neg")).cast("double") / n * scale + 0.5)
            / scale
        ).alias("top_share"),
    )


def periodicity_signals(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_events: int = 6,
    cv_threshold: float = 0.1,
    out_round: int = 6,
) -> DataFrame:
    """Automation/bot detection via inter-event regularity: humans
    produce bursty, heavy-tailed gaps; schedulers produce metronomic
    ones. Per user: event count, gap count, mean / sample-stddev of
    the inter-event gap (microseconds), their coefficient of variation
    (``cv_gap = std/mean``), and ``is_regular`` — an int flag set when
    the user has at least ``min_events`` events and ``cv_gap`` below
    ``cv_threshold`` (a pure Poisson process has cv = 1; real users
    sit above 1; cron sits near 0). The flag feeds the same curation
    path as e12's SRM check: synthetic traffic must not enter
    behavioral corpora.

    One lag window per user (bounded state) + one hash agg. Parity:
    gaps are exact integer microsecond differences, and the variance
    numerator ``n·Σg² − (Σg)²`` is computed in EXACT integer
    arithmetic (decimal(38,0) here, HUGEINT in the oracle — equal
    integer values, identical nearest-double casts) before ONE double
    division and sqrt; a ``stddev_samp`` formulation measurably
    diverged cross-engine at 1e-6 absolute on microsecond magnitudes
    (~1e-16 relative — below double precision). mean/std/cv
    floor-scaled at 1e6; zero-variance and short users get NULL cv
    and an explicit flag."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = (tus - F.lag(tus).over(w)).alias("__gap")
    g = df.select(F.col(user_col), gap)
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + 0.5) / scale
    gd = F.col("__gap").cast("decimal(19,0)")
    agg = g.groupBy(user_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("__gap").cast("long").alias("n_gaps"),
        F.sum(gd).cast("decimal(38,0)").alias("__s"),
        F.sum((gd * gd).cast("decimal(38,0)")).cast("decimal(38,0)")
        .alias("__ssq"),
    )
    mean = F.col("__s").cast("double") / F.col("n_gaps").cast("double")
    # ANSI is pinned on (session contract), so an exact-integer product
    # past decimal(38,0) is a RUNTIME ERROR, not a NULL. Envelope: both
    # n·Σg² and (Σg)² are bounded by n_gaps·span² (µs² magnitudes —
    # ~1e29 for a 10-year span), so 38 digits hold until ~1e9 gaps ×
    # 10-year spans. Guard the band explicitly: when either term would
    # pass 1e37 (10× margin under decimal(38,0) AND the oracle's
    # HUGEINT ~1.7e38), std/cv become NULL instead of killing the job;
    # CaseWhen evaluates lazily, so the decimal product never runs on
    # guarded rows. The oracle applies the identical double-arithmetic
    # guard — same IEEE comparisons, same rows guarded.
    safe = (
        F.col("n_gaps").cast("double") * F.col("__ssq").cast("double")
        < F.lit(1e37)
    ) & (
        F.col("__s").cast("double") * F.col("__s").cast("double")
        < F.lit(1e37)
    )
    var_num = (
        F.col("n_gaps").cast("decimal(38,0)") * F.col("__ssq")
        - F.col("__s") * F.col("__s")
    )
    std = F.when(
        safe,
        F.sqrt(
            var_num.cast("double")
            / (F.col("n_gaps") * (F.col("n_gaps") - 1)).cast("double")
        ),
    )
    cv = F.when(
        (F.col("n_gaps") >= 2) & (mean > 0), fs(std / mean)
    )
    return agg.select(
        user_col,
        "n_events",
        "n_gaps",
        F.when(F.col("n_gaps") >= 1, fs(mean)).alias("mean_gap_us"),
        F.when(F.col("n_gaps") >= 2, fs(std)).alias("std_gap_us"),
        cv.alias("cv_gap"),
        F.coalesce(
            (F.col("n_events") >= int(min_events))
            & (cv < float(cv_threshold)),
            F.lit(False),
        ).cast("int").alias("is_regular"),
    )


def cuped_readout(
    per_unit: DataFrame,
    arm_col: str = "arm",
    x_col: str = "x_pre",
    y_col: str = "y_post",
    out_round: int = 6,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013 — public): per arm, the outcome mean adjusted by the
    pre-experiment covariate, ``mean_y_cuped = mean(Y) − θ·(mean_a(X)
    − mean_all(X))`` with the pooled ``θ = cov(X,Y)/var(X)``. The
    pre-period metric is unaffected by treatment, so subtracting its
    correlated share of the outcome shrinks per-arm variance by
    ``cov²/(var_x·var_y)`` (= r²) without biasing the contrast — the
    standard way to cut experiment runtime ~2–5× on returning-user
    metrics. Input is one row per unit: arm, integer-valued pre
    covariate ``x_col``, integer-valued outcome ``y_col`` (build both
    with conditional aggregates; see the e23 query).

    Outputs per arm: ``n_units``, raw ``mean_y``, ``mean_y_cuped``,
    ``theta``, sample ``var_y``, ``var_y_cuped`` (the empirical
    variance of the adjusted values, = var_y − 2θ·cov_a + θ²·var_x_a)
    and ``var_reduction`` (1 − var_y_cuped/var_y). Arms with < 2 units
    report NULL variances; zero ``var_y`` reports NULL reduction; a
    zero-variance covariate degrades to θ = 0 (raw means, no crash).

    Parity contract (the e21 pattern): every moment — n, ΣX, ΣY, ΣXY,
    ΣXX, ΣYY — accumulates in EXACT integer arithmetic
    (decimal(38,0) here, HUGEINT in the oracle); θ, means and
    variances are then single double expressions over identical
    integers, floor-scaled at 1e6. Scale shape: one global 1-row agg
    broadcast back + one per-arm hash agg — no windows, no collect.
    Units with a NULL covariate or outcome are EXCLUDED from the
    readout (a missing pre-period is not zero activity — coalesce
    your conditional aggregates to 0 upstream if it is).
    """
    d0 = F.lit(0).cast("decimal(38,0)")
    xd = F.col(x_col).cast("decimal(38,0)")
    yd = F.col(y_col).cast("decimal(38,0)")
    base = per_unit.select(
        F.col(arm_col).alias("arm"), xd.alias("__x"), yd.alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + F.lit(0.5)) / scale

    def moments(df: DataFrame, keys: list[str]) -> DataFrame:
        g = df.groupBy(*keys) if keys else df.groupBy()
        return g.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.coalesce(F.sum("__x"), d0).cast("decimal(38,0)").alias("sx"),
            F.coalesce(F.sum("__y"), d0).cast("decimal(38,0)").alias("sy"),
            F.coalesce(F.sum(F.col("__x") * F.col("__y")), d0)
            .cast("decimal(38,0)").alias("sxy"),
            F.coalesce(F.sum(F.col("__x") * F.col("__x")), d0)
            .cast("decimal(38,0)").alias("sxx"),
            F.coalesce(F.sum(F.col("__y") * F.col("__y")), d0)
            .cast("decimal(38,0)").alias("syy"),
        )
    glob = moments(base, []).select(
        F.col("n").alias("gn"), F.col("sx").alias("gsx"),
        F.col("sy").alias("gsy"), F.col("sxy").alias("gsxy"),
        F.col("sxx").alias("gsxx"),
    )
    arm = moments(base, ["arm"])
    j = arm.crossJoin(F.broadcast(glob))
    dd = lambda c: F.col(c).cast("double")
    theta_den = dd("gn") * dd("gsxx") - dd("gsx") * dd("gsx")
    theta = F.when(
        theta_den > 0,
        (dd("gn") * dd("gsxy") - dd("gsx") * dd("gsy")) / theta_den,
    ).otherwise(F.lit(0.0))
    mean_x_all = dd("gsx") / dd("gn")
    n, sx, sy = dd("n"), dd("sx"), dd("sy")
    mean_y = sy / n
    mean_y_cuped = mean_y - theta * (sx / n - mean_x_all)
    two = F.lit(2.0)
    denom = n * (n - F.lit(1.0))
    var_y = (n * dd("syy") - sy * sy) / denom
    cov_a = (n * dd("sxy") - sx * sy) / denom
    var_x_a = (n * dd("sxx") - sx * sx) / denom
    var_adj = var_y - two * theta * cov_a + theta * theta * var_x_a
    has_var = F.col("n") >= 2
    return j.select(
        "arm",
        F.col("n").cast("long").alias("n_units"),
        fs(mean_y).alias("mean_y"),
        fs(mean_y_cuped).alias("mean_y_cuped"),
        fs(theta).alias("theta"),
        F.when(has_var, fs(var_y)).alias("var_y"),
        F.when(has_var, fs(var_adj)).alias("var_y_cuped"),
        F.when(
            has_var & (var_y > 0), fs(F.lit(1.0) - var_adj / var_y)
        ).alias("var_reduction"),
    )


# Poisson(1) CDF thresholds scaled to 2^32 (floor(P(K<=k)·2^32),
# k = 0..8; the k≥9 tail mass is 1.1e-6 and maps to k=9). Shared as
# exact integer literals with the oracle, so the bootstrap draw is a
# pure integer comparison — engine-identical by construction.
_POISSON1_CDF_2_32 = (
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
    4292415291, 4294609777, 4294923276, 4294962463,
)


def poisson_bootstrap_ci(
    per_unit: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    unit_col: str = "user_id",
    replicates: int = 100,
    alpha: float = 0.05,
    salt: str = "boot",
    out_round: int = 6,
    den_col: str | None = None,
) -> DataFrame:
    """Deterministic Poisson bootstrap confidence intervals per arm —
    the resampling scheme built for data too large to multinomial-
    resample (Chamandy et al., Google 2012, public): each unit enters
    replicate ``b`` with weight ``K ~ Poisson(1)``, so replicates are
    independent per-row draws needing no global coordination, and the
    percentile spread of the replicate means is the CI. Here the draw
    is RNG-FREE: ``K`` comes from comparing an md5-uniform integer
    keyed (salt, replicate, unit) against exact integer Poisson-CDF
    thresholds (the d84/e12 hash chain) — reproducible across runs,
    engines and cluster sizes, and the per-(unit, replicate) weight
    never materializes state.

    Outputs per arm: ``n_units``, the point-estimate ``mean_y``, and
    ``ci_lo``/``ci_hi`` — exact order statistics of the replicate
    means at ranks ``max(1, floor(B'·α/2))`` and
    ``min(B', ceil(B'·(1−α/2)))`` over the B' replicates with nonzero
    total weight (no interpolation: interpolated quantiles reopen
    cross-engine float ties; ranks do not). Ties in replicate means
    order by replicate id — fully deterministic.

    RATIO metrics (r14, ``den_col``): conversion rate,
    revenue-per-session and friends are ratios of SUMS, not means of
    per-unit ratios — resampling must draw the unit's
    (numerator, denominator) PAIR with one weight, never the two
    sides independently. With ``den_col`` set, the point estimate is
    ``Σ num / Σ den`` per arm and replicate ``b`` re-weights both
    sums with the same md5-keyed Poisson ``K``:
    ``Σ K·num / Σ K·den`` (replicates whose weighted denominator is
    zero are dropped, exactly as zero-weight replicates are for the
    mean). ``den_col = None`` is the plain-mean case — literally the
    ratio with a constant denominator of 1 per unit; one code path.
    Output column is ``ratio`` instead of ``mean_y`` when ``den_col``
    is set.

    Scale shape: one explode to units × B rows (B is a dial; the
    classic streaming-moments alternative trades this for normality
    assumptions), one (arm, replicate) hash agg — map-side
    combinable integer sums — then the rank window runs over B rows
    per arm (bounded by construction). Units with NULL ``y_col`` (or
    NULL ``den_col``) are excluded. All weights/sums exact integers
    (y/den enter as decimal(38,0)); each replicate statistic is one
    double division."""
    if replicates < 2:
        raise ValueError("need at least 2 replicates")
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + F.lit(0.5)) / scale
    yd = F.col(y_col).cast("decimal(38,0)")
    dd = (
        F.col(den_col).cast("decimal(38,0)")
        if den_col
        else F.lit(1).cast("decimal(38,0)")
    )
    base = per_unit.select(
        F.col(arm_col).alias("arm"),
        F.col(unit_col).alias("__u"),
        yd.alias("__y"),
        dd.alias("__d"),
    ).filter(F.col("__y").isNotNull() & F.col("__d").isNotNull())
    point = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        (
            F.sum("__y").cast("double") / F.sum("__d").cast("double")
        ).alias("__mean"),
    )
    reps = base.select(
        "arm", "__u", "__y", "__d",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(replicates) - 1))
        ).alias("__b"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:"),
                    F.col("__b").cast("string"),
                    F.lit(":"),
                    F.col("__u").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    thresholds = F.array(*[F.lit(t) for t in _POISSON1_CDF_2_32])
    k = F.size(F.filter(thresholds, lambda t: bucket >= t))
    drawn = reps.select(
        "arm", "__b",
        (k.cast("decimal(38,0)") * F.col("__d")).alias("__kd"),
        (k.cast("decimal(38,0)") * F.col("__y")).alias("__ky"),
    )
    repagg = drawn.groupBy("arm", "__b").agg(
        F.sum("__kd").cast("decimal(38,0)").alias("__w"),
        F.sum("__ky").cast("decimal(38,0)").alias("__wy"),
    ).filter(F.col("__w") > 0)
    mean_b = (F.col("__wy").cast("double") / F.col("__w").cast("double"))
    ranked = repagg.select("arm", F.col("__b"), mean_b.alias("__m"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("arm").orderBy("__m", "__b")
    ranked = ranked.select(
        "arm", "__m",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(_W.partitionBy("arm")).alias("__nb"),
    )
    a2 = float(alpha) / 2.0
    k_lo = F.greatest(
        F.lit(1), F.floor(F.col("__nb") * F.lit(a2)).cast("int")
    )
    k_hi = F.least(
        F.col("__nb"),
        F.ceil(F.col("__nb") * F.lit(1.0 - a2)).cast("int"),
    )
    ci = ranked.groupBy("arm").agg(
        F.min(F.when(F.col("__r") == k_lo, F.col("__m"))).alias("__lo"),
        F.min(F.when(F.col("__r") == k_hi, F.col("__m"))).alias("__hi"),
    )
    stat_name = "ratio" if den_col else "mean_y"
    return (
        point.join(ci, "arm", "left")
        .select(
            "arm",
            "n_units",
            fs(F.col("__mean")).alias(stat_name),
            fs(F.col("__lo")).alias("ci_lo"),
            fs(F.col("__hi")).alias("ci_hi"),
        )
    )


def msprt_readout(
    per_unit: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    control: str = "control",
    tau: float = 0.5,
    alpha: float = 0.05,
    out_round: int = 6,
) -> DataFrame:
    """Always-valid experiment inference via the mixture SPRT (Johari,
    Pekelis & Walsh 2017/2022, "Peeking at A/B tests" — public; the
    always-valid p-values production experimentation platforms ship):
    classical fixed-n t-tests are invalidated by CONTINUOUS MONITORING
    (peeking inflates false positives far past α), while the mSPRT
    p-value is valid at EVERY look — stop whenever it crosses α. For
    each treatment arm vs ``control``, with per-unit metric ``y_col``
    (integers — exact moment sums), Δ = mean_t − mean_c, pooled sample
    variance s_p², V = s_p²(1/n_c + 1/n_t), and the normal mixture
    with variance ``tau``²::

        Λ = sqrt(V/(V+τ²)) · exp(Δ²·τ² / (2V(V+τ²)))
        p = min(1, 1/Λ)

    Output per treatment arm: ``n_units``, ``mean_y``, ``delta``,
    ``p_always_valid`` and ``significant`` (int flag at ``alpha``);
    the control row reports its own n/mean with NULL inferential
    columns. Degenerate guards: V ≤ 0 or n < 2 on either side → NULL
    p, flag 0.

    Determinism: the e21/e23 parity pattern — every moment (n, Σy,
    Σy²) an exact integer (decimal(38,0)/HUGEINT), Δ/V/Λ/p single
    double expressions evaluated in the identical order by the
    oracle, floor-scaled 1e6. Scale shape: one per-arm hash agg + a
    broadcast one-row control join — no windows, no collect."""
    d0 = F.lit(0).cast("decimal(38,0)")
    yd = F.col(y_col).cast("decimal(38,0)")
    base = per_unit.select(
        F.col(arm_col).alias("arm"), yd.alias("__y")
    ).filter(F.col("__y").isNotNull())
    m = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.coalesce(F.sum("__y"), d0).cast("decimal(38,0)").alias("sy"),
        F.coalesce(F.sum(F.col("__y") * F.col("__y")), d0)
        .cast("decimal(38,0)").alias("syy"),
    )
    c = m.filter(F.col("arm") == control).select(
        F.col("n").alias("cn"),
        F.col("sy").alias("csy"),
        F.col("syy").alias("csyy"),
    )
    j = m.crossJoin(F.broadcast(c))
    dbl = lambda col: F.col(col).cast("double")
    nn, sy, syy = dbl("n"), dbl("sy"), dbl("syy")
    cn, csy, csyy = dbl("cn"), dbl("csy"), dbl("csyy")
    mean_t = sy / nn
    mean_c = csy / cn
    delta = mean_t - mean_c
    var_t = (nn * syy - sy * sy) / (nn * (nn - F.lit(1.0)))
    var_c = (cn * csyy - csy * csy) / (cn * (cn - F.lit(1.0)))
    sp2 = (
        (nn - F.lit(1.0)) * var_t + (cn - F.lit(1.0)) * var_c
    ) / (nn + cn - F.lit(2.0))
    v = sp2 * (F.lit(1.0) / cn + F.lit(1.0) / nn)
    t2 = F.lit(float(tau) * float(tau))
    lam = F.sqrt(v / (v + t2)) * F.exp(
        delta * delta * t2 / (F.lit(2.0) * v * (v + t2))
    )
    p = F.least(F.lit(1.0), F.lit(1.0) / lam)
    ok = (F.col("n") >= 2) & (F.col("cn") >= 2) & (v > 0)
    scale = float(10 ** out_round)
    fs = lambda col: F.floor(col * scale + F.lit(0.5)) / scale
    is_ctrl = F.col("arm") == control
    return j.select(
        "arm",
        F.col("n").cast("long").alias("n_units"),
        fs(mean_t).alias("mean_y"),
        F.when(~is_ctrl, fs(delta)).alias("delta"),
        F.when(~is_ctrl & ok, fs(p)).alias("p_always_valid"),
        F.coalesce(
            (~is_ctrl & ok & (p < F.lit(float(alpha)))).cast("int"),
            F.lit(0),
        ).alias("significant"),
    )


def _norm_ppf(p: float) -> float:
    """Φ⁻¹ via Acklam's rational approximation (public domain; ~1e-9
    absolute error) — pure Python arithmetic, no scipy. Evaluated
    DRIVER-SIDE only: z-quantiles depend on the α/power parameters,
    never on data, so they enter the plan (and the oracle SQL) as
    identical literals by construction."""
    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    import math

    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    p_low = 0.02425
    if p < p_low:
        q = math.sqrt(-2.0 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                 + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0
        )
    if p > 1.0 - p_low:
        q = math.sqrt(-2.0 * math.log(1.0 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                  + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0
        )
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
             + a[4]) * r + a[5]) * q / (
        (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r
         + 1.0)
    )


def power_mde_readout(
    per_unit: DataFrame,
    arm_col: str = "arm",
    y_col: str = "y",
    control: str = "control",
    alpha: float = 0.05,
    power: float = 0.8,
    out_round: int = 6,
) -> DataFrame:
    """Minimum detectable effect per treatment arm at the CURRENT
    sample sizes — the pre-readout sanity every experimentation
    platform surfaces (public textbook two-sample formula): an
    underpowered readout "finding nothing" is indistinguishable from
    a true null, so report what effect the test COULD see::

        MDE = (z_{1−α/2} + z_{power}) · √(s_p²·(1/n_c + 1/n_t))

    with pooled sample variance s_p² from exact integer moments (the
    e21/e23 parity pattern) and the z-quantiles computed driver-side
    (:func:`_norm_ppf` — parameters, not data, so they are literals
    shared verbatim with the oracle). Output per treatment arm:
    ``n_units``, ``mean_y``, ``se_delta`` (the √ term), ``mde_abs``,
    ``mde_rel`` (vs the control mean; NULL when that mean is 0), all
    floor-scaled 1e6; the control row carries its own n/mean with
    NULL inferential columns. One per-arm hash agg + a broadcast
    one-row control join."""
    z = _norm_ppf(1.0 - float(alpha) / 2.0) + _norm_ppf(float(power))
    d0 = F.lit(0).cast("decimal(38,0)")
    yd = F.col(y_col).cast("decimal(38,0)")
    base = per_unit.select(
        F.col(arm_col).alias("arm"), yd.alias("__y")
    ).filter(F.col("__y").isNotNull())
    m = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.coalesce(F.sum("__y"), d0).cast("decimal(38,0)").alias("sy"),
        F.coalesce(F.sum(F.col("__y") * F.col("__y")), d0)
        .cast("decimal(38,0)").alias("syy"),
    )
    c = m.filter(F.col("arm") == control).select(
        F.col("n").alias("cn"),
        F.col("sy").alias("csy"),
        F.col("syy").alias("csyy"),
    )
    j = m.crossJoin(F.broadcast(c))
    dbl = lambda col: F.col(col).cast("double")
    nn, sy, syy = dbl("n"), dbl("sy"), dbl("syy")
    cn, csy, csyy = dbl("cn"), dbl("csy"), dbl("csyy")
    mean_t = sy / nn
    mean_c = csy / cn
    var_t = (nn * syy - sy * sy) / (nn * (nn - F.lit(1.0)))
    var_c = (cn * csyy - csy * csy) / (cn * (cn - F.lit(1.0)))
    sp2 = (
        (nn - F.lit(1.0)) * var_t + (cn - F.lit(1.0)) * var_c
    ) / (nn + cn - F.lit(2.0))
    se = F.sqrt(sp2 * (F.lit(1.0) / cn + F.lit(1.0) / nn))
    mde = F.lit(float(z)) * se
    ok = (F.col("n") >= 2) & (F.col("cn") >= 2) & (sp2 > 0)
    scale = float(10 ** out_round)
    fs = lambda col: F.floor(col * scale + F.lit(0.5)) / scale
    is_ctrl = F.col("arm") == control
    g = lambda col: F.when(~is_ctrl & ok, col)
    return j.select(
        "arm",
        F.col("n").cast("long").alias("n_units"),
        fs(mean_t).alias("mean_y"),
        g(fs(se)).alias("se_delta"),
        g(fs(mde)).alias("mde_abs"),
        g(
            F.when(mean_c != 0, fs(mde / F.abs(F.lit(0.0) + mean_c)))
        ).alias("mde_rel"),
    )
