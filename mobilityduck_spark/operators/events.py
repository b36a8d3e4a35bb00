"""Event-analytics operators: sessionization, ordered funnels, cohort
retention.

These are the classic product-analytics shapes a general engine is
expected to cover (the reference covers the spatiotemporal analogue —
its trip segmentation in `src/temporal/tsequence.cpp` is gap-splitting
over GPS pings; these apply the same gap/order semantics to a generic
event stream, plus the funnel/retention shapes the reference has no
analogue for).

Scale shape (100 TB):
- sessionize: ONE shuffle partitions events by user; the break-flag
  lag() and running session index are windows over that partitioning
  (no unpartitioned WindowExec anywhere), and the per-session rollup
  groups by (user, session_idx) — a refinement of the same key, so the
  second exchange is small and skew follows users, not time.
- funnel: events are scan-speed prefiltered to the step types BEFORE
  any shuffle; each step is min-aggregated per user and equi-joined to
  the previous step's per-user time (all step tables are |users|-sized,
  shrinking monotonically down the funnel).
- retention: first-touch is a per-user min (one shuffle), activity is a
  (user, week) distinct (same key), and the cohort matrix is a
  |cohorts|x|weeks| aggregate — output is tiny regardless of input.

All timestamps compare exactly in epoch microseconds; every output
measure is exact integer arithmetic (counts, micro-second sums), so the
oracle hash is aggregation-order-free.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pins import pin

_US_PER_UNIT = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def _interval_us(spec: str) -> int:
    """Parse a '7 days' / '90 minutes'-style fixed-length interval to
    exact integer microseconds, timezone-independently. Calendar units
    (month/year) have no fixed microsecond length and are rejected."""
    total = 0
    toks = spec.strip().lower().split()
    if len(toks) % 2 != 0:
        raise ValueError(f"bad interval spec: {spec!r}")
    for qty, unit in zip(toks[::2], toks[1::2]):
        unit = unit.rstrip("s")
        if unit not in _US_PER_UNIT:
            raise ValueError(
                f"non-fixed-length or unknown interval unit {unit!r} in "
                f"{spec!r}"
            )
        total += int(qty) * _US_PER_UNIT[unit]
    return total


def sessionize(
    events: DataFrame,
    gap: str = "12 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    type_col: str | None = "event_type",
) -> DataFrame:
    """Gap-based session assignment + per-session rollup.

    A new session starts at a user's first event and whenever the gap
    since the previous event exceeds `gap` (strict >, matching
    session_window's closed-open semantics on the batch side). Returns
    one row per session: (user_id, session_idx, start_us, end_us,
    n_events, n_types, dur_us), session_idx 1-based in time order.
    n_types counts distinct `type_col` values; when type_col is None or
    the frame has no such column, n_types is 0 (the rollup stays usable
    on frames without an event-type dimension).

    Ordering inside a user is (ts, tiebreak_col) so simultaneous events
    assign deterministically on every engine.
    """
    if type_col is not None and type_col not in events.columns:
        type_col = None
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    prev = F.lag(ts_col).over(w)
    brk = F.when(
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}")),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols = [user_col, ts_col, tiebreak_col] + (
        [type_col] if type_col else []
    )
    tagged = events.select(*cols, brk.alias("brk")).withColumn(
        "session_idx", F.sum("brk").over(run)
    )
    n_types = (
        F.count_distinct(type_col)
        if type_col
        else F.lit(0).cast("long")
    )
    return (
        tagged.groupBy(user_col, "session_idx")
        .agg(
            F.unix_micros(F.min(ts_col)).alias("start_us"),
            F.unix_micros(F.max(ts_col)).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
            n_types.alias("n_types"),
        )
        .withColumn("dur_us", F.col("end_us") - F.col("start_us"))
        .orderBy(user_col, "session_idx")
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    horizon: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered multi-step conversion funnel.

    A user reaches step i at the EARLIEST event of type steps[i] that is
    strictly after their step-(i-1) time and within `horizon` of it
    (step 0 is the user's first steps[0] event, unconditioned). Returns
    one row per step: (step_idx, step, n_users, sum_lag_us) where
    sum_lag_us is the exact total microseconds users spent converting
    from the previous step (0 for step 1).

    The per-user step times are the textbook iterated min-aggregation;
    each iteration shrinks the user set, and the step tables join on
    user_id only.
    """
    f = events.where(F.col(type_col).isin(steps)).select(
        user_col, type_col, F.unix_micros(F.col(ts_col)).alias("t_us")
    )
    # parse "7 days"-style horizons to exact integer microseconds in
    # Python (a string→timestamp cast would read the literal in the
    # SESSION timezone, silently shifting the horizon by the tz offset
    # on any non-UTC session)
    horizon_expr = F.lit(_interval_us(horizon)).cast("long")

    prev = (
        f.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min("t_us").alias("t_prev"))
    )
    out_rows = [
        prev.agg(
            F.lit(1).alias("step_idx"),
            F.lit(steps[0]).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
            F.lit(0).cast("long").alias("sum_lag_us"),
        )
    ]
    for i, step in enumerate(steps[1:], start=2):
        cur = (
            f.where(F.col(type_col) == step)
            .join(prev, user_col)
            .where(
                (F.col("t_us") > F.col("t_prev"))
                & (F.col("t_us") <= F.col("t_prev") + horizon_expr)
            )
            .groupBy(user_col, "t_prev")
            .agg(F.min("t_us").alias("t_cur"))
        )
        out_rows.append(
            cur.agg(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
                F.coalesce(
                    F.sum(F.col("t_cur") - F.col("t_prev")), F.lit(0)
                )
                .cast("long")
                .alias("sum_lag_us"),
            )
        )
        prev = cur.select(user_col, F.col("t_cur").alias("t_prev"))

    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step_idx")


def retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix.

    Cohort = Monday-truncated week of a user's first event; a user is
    active in week w if they have any event in it. Returns
    (cohort_week_us, week_offset, n_active) ordered by both keys —
    n_active at offset 0 is the cohort size.
    """
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("cw")
    )
    act = events.select(
        user_col, F.date_trunc("week", F.col(ts_col)).alias("aw")
    ).distinct()
    return (
        act.join(first, user_col)
        .select(
            F.unix_micros(F.col("cw")).alias("cohort_week_us"),
            (F.datediff(F.col("aw"), F.col("cw")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week_us", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week_us", "week_offset")
    )


def value_outliers(
    events: DataFrame,
    z: float = 3.0,
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group z-score outlier rows, exact-statistics form.

    A row is an outlier when (x - mean)^2 > z^2 * var (population
    variance per event_type). The moments are EXACT: x is quantized to
    BIGINT micro-units and S = sum(x), Q = sum(x^2) accumulate in
    DECIMAL(38,0), so mean/var carry no float accumulation error and
    the decision z^2 = (n*x - S)^2 / (n*Q - S^2) is computed from
    exact integers. The final compare maps both sides through one
    fixed-shape IEEE double product — deterministic across engines
    because the inputs are identical exact decimals.

    Returns (event_id, event_type, value_micro, z2) for flagged rows,
    z2 rounded to 6 places. One scan for moments (5-group aggregate,
    broadcast back), one scan for the filter — no per-row shuffle.

    DECIMAL(38,0) bounds the exact path to ~1e11 rows/group at 1e8
    micro-units: the tight term is s*s (|s| ~ n*1e8 must stay under
    1e19 for s^2 < 1e38). Under non-ANSI Spark a decimal overflow
    yields NULL, which would silently unflag every row — so the
    moments carry a raise_error guard that fails the job loudly when
    any exact moment or the s^2 term nulls out; beyond the bound a
    production deployment drops to double moments (the flag tolerance
    then dominates the 1-ulp risk anyway).
    """
    x = F.round(F.col(value_col) * F.lit(1e6)).cast("long")
    m = events.where(F.col(value_col).isNotNull()).select(
        id_col, type_col, x.alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = m.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("s"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("q"),
    )
    # overflow guard: the aggregate produced rows (n >= 1), so a NULL
    # exact moment or NULL n*q - s^2 can only mean DECIMAL(38,0)
    # overflow — raise instead of silently flagging nothing (cost: one
    # expression over the |types|-row broadcast side)
    den_dec = dec(F.col("n")) * F.col("q") - F.col("s") * F.col("s")
    stats = stats.withColumn(
        "den_dec",
        F.when(
            F.col("s").isNull() | F.col("q").isNull() | den_dec.isNull(),
            F.raise_error(
                F.lit(
                    "value_outliers: DECIMAL(38,0) moment overflow — "
                    "group exceeds the exact path's ~1e11-row bound; "
                    "use double moments for groups this large"
                )
            ).cast("decimal(38,0)"),
        ).otherwise(den_dec),
    )
    num = (dec(F.col("n")) * dec(F.col("x")) - F.col("s")).cast("double")
    den = F.col("den_dec").cast("double")
    z2 = (num * num) / den
    return (
        m.join(F.broadcast(stats), type_col)
        .where(num * num > F.lit(float(z * z)) * den)
        .select(
            id_col,
            type_col,
            F.col("x").alias("value_micro"),
            F.round(z2, 6).alias("z2"),
        )
        .orderBy(id_col)
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (the next-action model a product-analytics engine ships).

    Transitions pair each event with the user's NEXT event in (ts,
    tiebreak) order; a user's last event emits none. Returns
    (src_type, dst_type, cnt, p) where p = cnt/row_total rounded to 6
    places — one fixed-shape IEEE division of exact integers, so the
    hash is engine-stable.

    Plan: one user-partitioned window (lead), then a |types|^2-sized
    aggregate; the margin derives from the matrix itself (window over
    the tiny aggregate), never a second corpus pass.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = events.select(
        F.col(type_col).alias("src_type"),
        F.lead(type_col).over(w).alias("dst_type"),
    ).where(F.col("dst_type").isNotNull())
    mat = pairs.groupBy("src_type", "dst_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    row_tot = Window.partitionBy("src_type")
    return mat.select(
        "src_type",
        "dst_type",
        "cnt",
        F.round(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(row_tot).cast("double"),
            6,
        ).alias("p"),
    ).orderBy("src_type", "dst_type")


def decay_scores(
    events: DataFrame,
    half_life_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user exponential time-decay score (the feature-store
    recency-weighted engagement primitive): each event contributes
    value * 2^(-age_days / half_life), age measured in WHOLE days back
    from the dataset's max event day.

    Exactness contract: ages are integer days, so the decay factor is
    pow(2, -age/h) evaluated once per distinct (age mod h residue ...)
    — more precisely per row as one IEEE pow of an exact rational; the
    per-event contribution value_micro * decay is rounded to a BIGINT
    micro-unit BEFORE summation, making the per-user total exact
    integer arithmetic (aggregation-order-free on both engines).

    The anchor (max event date) comes from a 1-row aggregate broadcast
    back — one extra tiny job, no second corpus shuffle. Returns
    (user_id, n_events, score_micro) ordered by user.
    """
    anchor = events.agg(F.max(F.to_date(ts_col)).alias("d_max"))
    age = F.datediff(F.col("d_max"), F.to_date(ts_col))
    contrib = F.round(
        F.col(value_col)
        * F.lit(1e6)
        * F.pow(F.lit(2.0), -age.cast("double") / F.lit(float(half_life_days)))
    ).cast("long")
    return (
        events.where(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(anchor))
        .select(user_col, contrib.alias("c"))
        .groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("score_micro"),
        )
        .orderBy(user_col)
    )


def rolling_stats(
    events: DataFrame,
    window_rows: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user trailing-window features (last `window_rows` events
    including the current one): exact micro-unit sum and window size —
    the rolling-aggregate feature-engineering primitive.

    Values are quantized to BIGINT micro-units before the window sum,
    so results are exact integers; ordering is (ts, id) for a
    deterministic frame on every engine. One user-partitioned window =
    one shuffle.
    """
    x = F.round(F.col(value_col) * F.lit(1e6)).cast("long")
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    return events.select(
        id_col,
        user_col,
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum(x).over(w).alias("sum_micro"),
    ).orderBy(id_col)


def _hist_median(df: DataFrame, key: str, val: str) -> DataFrame:
    """Exact lower-median per key via the VALUE HISTOGRAM: counts per
    (key, value) then a cumulative window over the value-sorted
    histogram — work is domain-sized (distinct values), never a per-key
    row sort, so a 5-key corpus with billions of rows medians in one
    histogram shuffle. Returns (key, med)."""
    h = df.groupBy(key, val).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(key).orderBy(F.col(val).asc())
    cum = h.select(
        key, val,
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(Window.partitionBy(key)).alias("_n"),
    )
    hit = cum.where(F.col("_cum") >= F.expr("(_n + 1) div 2"))
    rnk = Window.partitionBy(key).orderBy(F.col(val).asc())
    return (
        hit.withColumn("_r", F.row_number().over(rnk))
        .where(F.col("_r") == 1)
        .select(key, F.col(val).alias("med"))
    )


def robust_outliers(
    events: DataFrame,
    k: int = 5,
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Median/MAD (robust) outlier rows per group: flag
    |x - median| > k * MAD, the heavy-tail-safe twin of the z-score
    detector (value_outliers). Both medians are exact lower medians
    computed on VALUE HISTOGRAMS (see _hist_median), and every quantity
    in the output is an exact BIGINT — no floats anywhere.

    Returns (event_id, event_type, value_micro, dev_micro) for flagged
    rows, ordered by id.
    """
    x = F.round(F.col(value_col) * F.lit(1e6)).cast("long")
    m = events.where(F.col(value_col).isNotNull()).select(
        id_col, type_col, x.alias("x")
    )
    med = _hist_median(m, type_col, "x")
    d = m.join(F.broadcast(med), type_col).select(
        id_col, type_col, "x",
        F.abs(F.col("x") - F.col("med")).alias("dev"),
    )
    mad = _hist_median(d, type_col, "dev").withColumnRenamed("med", "mad")
    return (
        d.join(F.broadcast(mad), type_col)
        .where(F.col("dev") > F.lit(k) * F.col("mad"))
        .select(
            id_col, type_col,
            F.col("x").alias("value_micro"),
            F.col("dev").alias("dev_micro"),
        )
        .orderBy(id_col)
    )


def user_features(
    events: DataFrame,
    gap: str = "12 hours",
    half_life_days: int = 7,
    user_col: str = "user_id",
) -> DataFrame:
    """Per-user training-feature assembly — the feature-store join that
    a ranking/propensity pipeline materializes nightly: base activity
    counts, session structure (gap sessionization), and the
    recency-decayed engagement score, one row per user.

    Every input is an already-proven operator (sessionize,
    decay_scores); this composes them with |users|-sized equi-joins, so
    the whole assembly adds no corpus-scale shuffle beyond what each
    signal already needs. All features are exact integers.
    """
    base = events.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
    )
    sess = (
        sessionize(events, gap=gap)
        .groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("dur_us").alias("session_dur_us"),
        )
    )
    decay = decay_scores(events, half_life_days=half_life_days).select(
        user_col, F.col("score_micro").alias("decay_micro")
    )
    return (
        base.join(sess, user_col)
        .join(decay, user_col)
        .orderBy(user_col)
    )


def user_features_asof_multi(
    events: DataFrame,
    labels: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    label_ts_col: str = "label_ts",
) -> DataFrame:
    """Event-level point-in-time features: one row per (user, label
    timestamp) — the general training-set case where a user has MANY
    labels (every conversion, every churn check) and each needs
    features from strictly before ITS OWN moment.

    Plan shape (the canonical as-of trick, zero joins): UNION label
    rows into the event stream, ONE user-partitioned cumulative window
    ordered by (ts, side) with labels sorting BEFORE events at equal
    timestamps (so ts == label_ts events are excluded — strict-before,
    leakage-safe), then keep the label rows. Running distinct-type
    counts use the first-occurrence-flag trick: row_number()==1 over
    (user, type) marks each type's first event, and the running sum of
    those flags IS the prefix distinct count — windows can't compute
    running COUNT(DISTINCT) directly, flags make it exact. Cost: one
    (user, type) window + one user window; both keys shuffle like any
    groupBy, |labels| adds rows, not joins.

    Returns (user_id, label_us, n_events_before, n_types_before,
    first_us, last_us) ordered by (user, label) — labels with no prior
    history keep 0 counts and 0 first/last (they're real training
    rows: the cold-start class; outputs stay NULL-free exact integers)."""
    wt = Window.partitionBy(user_col, type_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    ev = events.select(
        F.col(user_col),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),  # events sort AFTER labels at equal ts
        F.lit(1).alias("_is_event"),
        F.when(F.row_number().over(wt) == 1, 1).otherwise(0).alias("_new_type"),
    )
    lb = labels.select(
        F.col(user_col), F.col(label_ts_col).alias("_ts")
    ).distinct().select(
        user_col,
        "_ts",
        F.lit(0).alias("_side"),
        F.lit(0).alias("_is_event"),
        F.lit(0).alias("_new_type"),
    )
    u = ev.unionByName(lb)
    w = Window.partitionBy(user_col).orderBy(
        F.col("_ts").asc(), F.col("_side").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev_ts = F.when(F.col("_is_event") == 1, F.col("_ts"))
    out = u.select(
        user_col,
        "_ts",
        "_side",
        F.sum("_is_event").over(w).alias("n_events_before"),
        F.sum("_new_type").over(w).alias("n_types_before"),
        F.unix_micros(F.min(ev_ts).over(w)).alias("first_us"),
        F.unix_micros(F.max(ev_ts).over(w)).alias("last_us"),
    )
    # cold-start labels (no prior history) carry 0 instead of NULL —
    # the hashed-output convention is NULL-free exact integers
    zero = F.lit(0).cast("long")
    return (
        out.where(F.col("_side") == 0)
        .select(
            user_col,
            F.unix_micros(F.col("_ts")).alias("label_us"),
            "n_events_before",
            "n_types_before",
            F.coalesce(F.col("first_us"), zero).alias("first_us"),
            F.coalesce(F.col("last_us"), zero).alias("last_us"),
        )
        .orderBy(user_col, "label_us")
    )


def user_features_asof(
    events: DataFrame,
    labels: DataFrame,
    gap: str = "12 hours",
    half_life_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    label_ts_col: str = "label_ts",
) -> DataFrame:
    """Point-in-time-correct feature assembly: the same features as
    user_features, but computed AS OF each user's label timestamp —
    only events STRICTLY BEFORE label_ts contribute, so a training set
    built from this join is leakage-free (the label event itself and
    anything after it never bleed into its own features).

    `labels` carries one (user_col, label_ts_col) row per user (the
    training-label anchor — e.g. the conversion event being predicted).
    The recency decay is anchored at the LABEL date, not the dataset
    max — recency means "recent relative to prediction time".

    Plan shape: one equi-join of events to labels on user_col (the same
    key every downstream groupBy/window shuffles on, so the partitioning
    is reused end-to-end; AQE broadcasts the |users|-sized label side
    when it fits), then the proven sessionize/decay compositions over
    the filtered prefix. Users with no pre-label history drop out (no
    features exist for them); users whose pre-label events all carry
    NULL values get decay_micro = 0. Returns (user_id, label_us,
    n_events, n_types, n_sessions, session_dur_us, decay_micro), all
    exact integers, ordered by user.
    """
    lbl = labels.select(user_col, label_ts_col)
    pre = events.join(lbl, user_col).where(
        F.col(ts_col) < F.col(label_ts_col)
    )
    # base counts and the label-anchored decay share the grouping key,
    # so they fold into ONE pass over pre (conditional sum instead of a
    # separate filtered branch + left join — one less corpus scan)
    age = F.datediff(F.to_date(label_ts_col), F.to_date(ts_col))
    contrib = F.round(
        F.col("value")
        * F.lit(1e6)
        * F.pow(
            F.lit(2.0), -age.cast("double") / F.lit(float(half_life_days))
        )
    ).cast("long")
    base = pre.groupBy(user_col).agg(
        F.unix_micros(F.first(label_ts_col)).alias("label_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.coalesce(
            F.sum(F.when(F.col("value").isNotNull(), contrib)),
            F.lit(0),
        )
        .cast("long")
        .alias("decay_micro"),
    )
    sess = (
        sessionize(pre, gap=gap, user_col=user_col, ts_col=ts_col)
        .groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("dur_us").alias("session_dur_us"),
        )
    )
    return (
        base.join(sess, user_col)
        .select(
            user_col,
            "label_us",
            "n_events",
            "n_types",
            "n_sessions",
            "session_dur_us",
            "decay_micro",
        )
        .orderBy(user_col)
    )


def active_users(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU/WAU active-user curves — the product-analytics vital sign:
    per calendar day, the exact count of distinct users active that day
    (dau) and in the trailing `window_days` window ending that day
    (wau).

    Exact sliding distinct counts without per-window re-scans: each
    distinct (user, day) pair CONTRIBUTES to the `window_days` target
    days it can keep a user active in (explode of a 7-day sequence),
    then one distinct + count per target day. Work is |distinct
    user-days| × window — independent of raw event volume after the
    first distinct — and every stage is a well-keyed groupBy. Days
    beyond the observed range are dropped (inner join to the DAU days),
    so the curve covers exactly the data's span. Returns (day_us, dau,
    wau) ordered by day, all exact integers.
    """
    u = events.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
    ).distinct()
    dau = u.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        u.select(
            "u",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), window_days - 1)
                )
            ).alias("tday"),
        )
        .distinct()
        .groupBy("tday")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(contrib, dau["day"] == contrib["tday"])
        .select(
            F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
            "dau",
            "wau",
        )
        .orderBy("day_us")
    )


def session_journeys(
    events: DataFrame,
    gap: str = "12 hours",
    prefix_len: int = 5,
    k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Top user journeys: the k most common session-opening event-type
    sequences (first `prefix_len` events of each gap-session, joined
    with '>') — the path-mining table a product team reads to see how
    sessions actually start.

    Plan: the same ONE user-keyed shuffle as sessionize (lag break-flag
    + running session index), a (user, session) row_number to keep each
    session's prefix, ordered assembly via array_sort of (ts, tiebreak,
    type) structs inside a single groupBy (the single-shuffle staged
    list-agg pattern — struct ordering makes collect_list order-free),
    then a |journeys|-sized count and a TakeOrdered top-k with a
    deterministic (count desc, journey asc) tiebreak. No stage touches
    more than the session prefixes after the row_number filter.
    """
    order_cols = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    prev = F.lag(ts_col).over(w)
    brk = F.when(
        prev.isNull() | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}")),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(user_col).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tagged = events.select(
        user_col, ts_col, tiebreak_col, type_col, brk.alias("brk")
    ).withColumn("session_idx", F.sum("brk").over(run))
    ws = Window.partitionBy(user_col, "session_idx").orderBy(*order_cols)
    prefix = tagged.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= prefix_len
    )
    journeys = (
        prefix.groupBy(user_col, "session_idx")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(tiebreak_col).alias("tb"),
                        F.col(type_col).alias("ty"),
                    )
                )
            ).alias("seq")
        )
        .select(
            F.array_join(
                F.transform(F.col("seq"), lambda s: s["ty"]), ">"
            ).alias("journey")
        )
    )
    return (
        journeys.groupBy("journey")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("journey"))
        .limit(k)
    )


def attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    horizon: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Last-touch conversion attribution: every `conversion_type` event
    is credited to the latest strictly-preceding non-conversion event of
    the same user within `horizon`; conversions with no touch in the
    window are credited to 'direct'. Returns one row per attributed
    channel: (channel, n_conversions, revenue_micro).

    Plan (100 TB): ONE user-keyed shuffle; the running last-touch is a
    single last(.., ignorenulls) window over (ts, tiebreak) with a
    ROWS .. 1 PRECEDING frame, so a conversion can never credit itself
    and equal-timestamp ordering is deterministic. The horizon test is
    exact integer microseconds. The final rollup is |channels|-sized.
    Revenue is micro-quantized before summation so the totals are exact
    integers (aggregation-order-free).
    """
    hz = _interval_us(horizon)
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col(type_col) != conversion_type,
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("t_us"),
            F.col(type_col).alias("ty"),
        ),
    )
    tagged = events.select(
        user_col,
        ts_col,
        tiebreak_col,
        type_col,
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        F.round(F.col(value_col) * 1e6).cast("bigint").alias("v_micro"),
    ).withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
    conv = tagged.where(F.col(type_col) == conversion_type)
    channel = F.when(
        F.col("last_touch").isNotNull()
        & (F.col("last_touch.t_us") >= F.col("t_us") - F.lit(hz)),
        F.col("last_touch.ty"),
    ).otherwise(F.lit("direct"))
    return (
        conv.select(channel.alias("channel"), "v_micro")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("v_micro").alias("revenue_micro"),
        )
        .orderBy("channel")
    )


def _scalable_ntile(
    df: DataFrame,
    sort_col: str,
    coarse_col,
    key_col: str,
    n_buckets: int,
    out_col: str,
) -> DataFrame:
    """Exact NTILE(n) by (sort_col, key_col) WITHOUT a single global
    sort: the two-level-rank trick (see text._two_level_rank) — a tiny
    (coarse bucket → count) histogram gives broadcastable rank offsets,
    a row_number() partitioned by coarse bucket gives local ranks, and
    the standard-SQL ntile (first n%b buckets one row larger) is a
    closed form over (global rank, total). coarse_col must be monotone
    non-decreasing in sort_col so ties cannot cross a coarse boundary.
    """
    base = df.withColumn("_cb", coarse_col)
    wh = Window.orderBy("_cb").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        base.groupBy("_cb")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_cb",
            F.coalesce(F.sum("_n").over(wh), F.lit(0)).alias("_off"),
            F.sum("_n").over(
                Window.orderBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("_tot"),
        )
    )
    w = Window.partitionBy("_cb").orderBy(
        F.col(sort_col).asc(), F.col(key_col).asc()
    )
    rk = F.col("_off") + F.row_number().over(w)
    qq = (F.col("_tot") / n_buckets).cast("bigint")
    rr = F.col("_tot") % n_buckets
    big = rr * (qq + 1)
    score = F.when(
        rk <= big, ((rk + qq) / (qq + 1)).cast("bigint")
    ).otherwise(
        rr
        + (
            (rk - big + F.greatest(qq, F.lit(1)) - 1)
            / F.greatest(qq, F.lit(1))
        ).cast("bigint")
    )
    return (
        base.join(F.broadcast(offs), "_cb")
        .withColumn(out_col, score.cast("int"))
        .drop("_cb", "_off", "_tot")
    )


def rfm_scores(
    events: DataFrame,
    conversion_type: str = "purchase",
    n_buckets: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring over the
    conversion stream: per user, days since last conversion (vs the
    corpus max conversion time), conversion count, exact micro-unit
    revenue, and three 1..n_buckets quintile scores (n_buckets = best:
    most recent / most frequent / highest spend).

    Plan: one user-keyed aggregate builds the |users|-sized RFM table;
    each score is an exact distributed NTILE via the two-level-rank
    trick (histogram offsets + coarse-bucket-partitioned row_number) —
    no global single-task sort anywhere, ties broken by user_id so the
    output is fully deterministic.
    """
    conv = events.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        F.round(F.col(value_col) * 1e6).cast("bigint").alias("v_micro"),
    )
    per = conv.groupBy("user_id").agg(
        F.max("t_us").alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("v_micro").alias("monetary_micro"),
    )
    anchor = conv.agg(F.max("t_us").alias("anchor_us"))
    per = per.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days",
        ((F.col("anchor_us") - F.col("last_us")) / F.lit(86_400_000_000))
        .cast("bigint"),
    )
    # pin the |users|-sized RFM table: the exploded rank relation below
    # and the pivot both derive from it — without the pin the events
    # scan and the user-keyed aggregate re-derive per consumer
    per = pin(per, level=StorageLevel.MEMORY_AND_DISK)
    # ALL THREE ntiles in ONE exploded (metric, value) relation: the
    # three chained _scalable_ntile passes each paid their own offset
    # histogram + join-back + coarse-bucket row_number (69 Exchanges at
    # sf0.1). Ranking the 3x|users| exploded relation instead runs ONE
    # histogram aggregate, ONE offset window (per metric), ONE
    # bucket-partitioned row_number and ONE pivot groupBy. Per-metric
    # semantics are untouched: offsets accumulate within each metric
    # (Window.partitionBy("m")), the local rank orders by (value,
    # user_id) inside (metric, coarse bucket) — exactly the old
    # per-pass orderBy(sort_col, key_col) tie-break — and the ntile
    # closed form reads the same per-metric total.
    day_us = F.lit(86_400_000_000)
    x = per.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_micro",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("m"),
                    F.col("last_us").alias("sv"),
                    (F.col("last_us") / day_us).cast("bigint").alias("cb"),
                ),
                F.struct(
                    F.lit("f").alias("m"),
                    F.col("frequency").alias("sv"),
                    F.col("frequency").cast("bigint").alias("cb"),
                ),
                F.struct(
                    F.lit("m").alias("m"),
                    F.col("monetary_micro").alias("sv"),
                    (F.col("monetary_micro") / F.lit(100_000_000))
                    .cast("bigint")
                    .alias("cb"),
                ),
            )
        ).alias("x"),
    ).select(
        "user_id", "recency_days", "frequency", "monetary_micro",
        "x.m", "x.sv", "x.cb",
    )
    wh = Window.partitionBy("m").orderBy("cb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        x.groupBy("m", "cb")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "m",
            "cb",
            F.coalesce(F.sum("_n").over(wh), F.lit(0)).alias("_off"),
            F.sum("_n").over(Window.partitionBy("m")).alias("_tot"),
        )
    )
    w = Window.partitionBy("m", "cb").orderBy(
        F.col("sv").asc(), F.col("user_id").asc()
    )
    rk = F.col("_off") + F.row_number().over(w)
    qq = (F.col("_tot") / n_buckets).cast("bigint")
    rr = F.col("_tot") % n_buckets
    big = rr * (qq + 1)
    score = F.when(
        rk <= big, ((rk + qq) / (qq + 1)).cast("bigint")
    ).otherwise(
        rr
        + (
            (rk - big + F.greatest(qq, F.lit(1)) - 1)
            / F.greatest(qq, F.lit(1))
        ).cast("bigint")
    )
    scored = x.join(F.broadcast(offs), ["m", "cb"]).withColumn(
        "_sc", score.cast("int")
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.max("recency_days").alias("recency_days"),
            F.max("frequency").alias("frequency"),
            F.max("monetary_micro").alias("monetary_micro"),
            F.max(F.when(F.col("m") == "r", F.col("_sc"))).alias("r_score"),
            F.max(F.when(F.col("m") == "f", F.col("_sc"))).alias("f_score"),
            F.max(F.when(F.col("m") == "m", F.col("_sc"))).alias("m_score"),
        )
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_micro",
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100
                + F.col("f_score") * 10
                + F.col("m_score")
            )
            .cast("int")
            .alias("rfm"),
        )
        .orderBy("user_id")
    )


def winsorized_stats(
    events: DataFrame,
    p_lo: int = 5,
    p_hi: int = 95,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Exact winsorized statistics per group: nearest-rank P{p_lo} and
    P{p_hi} of the micro-quantized value, plus the winsorized sum (every
    value clipped into [p_lo, p_hi] before summation) — the
    outlier-robust aggregate a metrics pipeline reports instead of a
    raw mean.

    Everything computes on the (group, value) HISTOGRAM (the
    _hist_median trick): percentiles are cumulative-count lookups and
    the winsorized sum is sum(clip(value)*count) over histogram rows —
    work is domain-sized, no per-group row sort, all exact integers.
    Returns (event_type, n, p_lo_micro, p_hi_micro, win_sum_micro).
    """
    x = F.round(F.col(value_col) * F.lit(1e6)).cast("long")
    m = events.where(F.col(value_col).isNotNull()).select(
        type_col, x.alias("x")
    )
    h = m.groupBy(type_col, "x").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(type_col).orderBy(F.col("x").asc())
    cum = h.select(
        type_col, "x", "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy(type_col)).alias("n"),
    )

    def pct(p: int, name: str) -> DataFrame:
        # nearest-rank: smallest x with cum >= ceil(n*p/100)
        hit = cum.where(
            F.col("cum") >= F.floor((F.col("n") * p + 99) / 100)
        )
        rnk = Window.partitionBy(type_col).orderBy(F.col("x").asc())
        return (
            hit.withColumn("_r", F.row_number().over(rnk))
            .where(F.col("_r") == 1)
            .select(type_col, F.col("x").alias(name))
        )

    lo = pct(p_lo, "p_lo_micro")
    hi = pct(p_hi, "p_hi_micro")
    return (
        cum.join(F.broadcast(lo), type_col)
        .join(F.broadcast(hi), type_col)
        .groupBy(type_col)
        .agg(
            F.max("n").alias("n"),
            F.max("p_lo_micro").alias("p_lo_micro"),
            F.max("p_hi_micro").alias("p_hi_micro"),
            F.sum(
                F.greatest(
                    F.least(F.col("x"), F.col("p_hi_micro")),
                    F.col("p_lo_micro"),
                )
                * F.col("c")
            ).alias("win_sum_micro"),
        )
        .orderBy(type_col)
    )


def psi_drift(
    events: DataFrame,
    n_buckets: int = 10,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Population Stability Index between the first and second half of
    the stream (split at the integer-microsecond midpoint of the
    observed time range): per (group, decile-bucket), the old/new
    counts and the Laplace-smoothed PSI term
    (p_new - p_old) * ln(p_new / p_old) — the standard feature-drift
    monitor an ML platform evaluates per release.

    Bucket boundaries are the OLD snapshot's nearest-rank deciles,
    computed on the (group, value) HISTOGRAM (domain-sized work, no
    per-group sort); assignment joins the histogram against the
    broadcast 9-row-per-group boundary table, so no raw row ever
    shuffles twice. Counts are exact integers; the only floating math
    is the final smoothed term (identical IEEE expression both
    engines), micro-quantized. All n_buckets rows emit per group even
    when empty (smoothing keeps the term defined).
    """
    m = events.where(F.col(value_col).isNotNull()).select(
        F.col(type_col).alias("g"),
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        F.round(F.col(value_col) * F.lit(1e6)).cast("long").alias("x"),
    )
    rng = m.agg(
        F.min("t_us").alias("mn"), F.max("t_us").alias("mx")
    ).select(F.expr("(mn + mx) div 2").alias("mid"))
    tagged = m.crossJoin(F.broadcast(rng)).select(
        "g", "x", (F.col("t_us") < F.col("mid")).alias("is_old")
    )
    h = tagged.groupBy("g", "x").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).alias("c_old"),
        F.sum(F.when(F.col("is_old"), 0).otherwise(1)).alias("c_new"),
    )
    # old-snapshot decile boundaries from the cumulative histogram.
    # Pinned: both the boundary derivation and the bucket assignment
    # read cum, and without the pin each re-runs the raw scan + the
    # histogram windows (cum is domain-sized — |distinct (g, x)| — so
    # the pin is cheap at any scale)
    w = Window.partitionBy("g").orderBy(F.col("x").asc())
    cum = pin(
        h.select(
            "g", "x", "c_old", "c_new",
            F.sum("c_old").over(w).alias("cum_old"),
            F.sum("c_old").over(Window.partitionBy("g")).alias("n_old_tot"),
        ),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    ps = tagged.sparkSession.range(1, n_buckets).select(
        (F.col("id") * (100 / n_buckets)).cast("int").alias("p")
    )
    bounds = (
        cum.join(F.broadcast(ps))
        .where(
            F.col("cum_old")
            >= F.floor((F.col("n_old_tot") * F.col("p") + 99) / 100)
        )
        .groupBy("g", "p")
        .agg(F.min("x").alias("bx"))
    )
    # bucket = number of boundaries <= x (0..n_buckets-1)
    bucketed = (
        cum.join(
            F.broadcast(bounds.select("g", "bx")).withColumnRenamed(
                "g", "g2"
            ),
            (F.col("g") == F.col("g2")) & (F.col("bx") <= F.col("x")),
            "left",
        )
        .groupBy("g", "x", "c_old", "c_new")
        .agg(F.count("bx").cast("int").alias("bucket"))
        .groupBy("g", "bucket")
        .agg(
            F.sum("c_old").cast("bigint").alias("n_old"),
            F.sum("c_new").cast("bigint").alias("n_new"),
        )
    )
    # pinned: the grid (distinct groups) and the left join both read it
    bucketed = pin(bucketed, level=StorageLevel.MEMORY_AND_DISK)
    # complete the (group, bucket) grid so empty buckets still emit
    grid = (
        bucketed.select("g").distinct()
        .crossJoin(
            tagged.sparkSession.range(0, n_buckets).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    full = grid.join(bucketed, ["g", "bucket"], "left").select(
        "g",
        "bucket",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    tot = full.groupBy("g").agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    po = (F.col("n_old") + 1.0) / (F.col("t_old") + F.lit(float(n_buckets)))
    pn = (F.col("n_new") + 1.0) / (F.col("t_new") + F.lit(float(n_buckets)))
    return (
        full.join(F.broadcast(tot), "g")
        .select(
            F.col("g").alias("event_type"),
            "bucket",
            "n_old",
            "n_new",
            F.round((pn - po) * F.log(pn / po) * 1e6)
            .cast("bigint")
            .alias("psi_term_micro"),
        )
        .orderBy("event_type", "bucket")
    )


def cohort_ltv(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Cohort LTV curves: users cohorted by the epoch-week of their
    first event (any type); per (cohort_week, week_index), the cohort
    size and the CUMULATIVE conversion revenue through that week — the
    lifetime-value table growth teams read cohort-over-cohort.

    One user-keyed aggregate finds each user's cohort week; revenue
    rolls up to the tiny (cohort, week) grid before the cumulative
    window runs over it (|cohorts| partitions of |weeks| rows — never
    raw events). Exact micro-unit integers throughout. Returns
    (cohort_week, week_idx, n_users, cum_revenue_micro).
    """
    wk_us = 7 * 86_400_000_000
    f = events.select(
        F.col(user_col).alias("u"),
        F.expr(f"unix_micros({ts_col}) div {wk_us}").alias("wk"),
        F.when(
            F.col(type_col) == conversion_type,
            F.round(F.col(value_col) * 1e6).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("v"),
    )
    cohorts = f.groupBy("u").agg(F.min("wk").alias("cw"))
    sizes = cohorts.groupBy("cw").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        f.join(cohorts, "u")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("widx"))
        .agg(F.sum("v").alias("rev"))
    )
    w = Window.partitionBy("cw").orderBy("widx")
    return (
        rev.withColumn("cum_rev", F.sum("rev").over(w))
        .join(F.broadcast(sizes), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("widx").cast("int").alias("week_idx"),
            "n_users",
            F.col("cum_rev").cast("bigint").alias("cum_revenue_micro"),
        )
        .orderBy("cohort_week", "week_idx")
    )


def forecast_backtest(
    events: DataFrame,
    season_days: int = 7,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonal-naive forecast backtest: per event type, predict each
    day's total value as the total from `season_days` earlier and
    report the backtest error — the baseline every forecasting system
    must beat, and the cheapest production sanity monitor.

    One (type, day) rollup (exact micro ints), one lag window over the
    tiny per-type daily series, exact integer MAE numerator and bias.
    Returns (event_type, n_days, mae_num_micro, bias_micro) where
    mae_num_micro = sum |actual - forecast| and bias_micro =
    sum (actual - forecast), both over backtested days only.
    """
    daily = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(type_col).alias("g"),
            F.expr(f"unix_micros({ts_col}) div 86400000000").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * 1e6).cast("long")).alias("v")
        )
    )
    w = Window.partitionBy("g").orderBy("day").rangeBetween(
        -season_days, -season_days
    )
    bt = daily.withColumn("f", F.max("v").over(w)).where(
        F.col("f").isNotNull()
    )
    return (
        bt.groupBy(F.col("g").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("v") - F.col("f")))
            .cast("bigint")
            .alias("mae_num_micro"),
            F.sum(F.col("v") - F.col("f"))
            .cast("bigint")
            .alias("bias_micro"),
        )
        .orderBy("event_type")
    )


def cusum_changepoint(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Exact-integer CUSUM changepoint: per event type over the daily
    value series, the day where the cumulative deviation from the
    series mean peaks — the classic level-shift locator.

    The float-free trick: with k = day index (1-based), n = #days,
    cumsum_k and total exact micro ints, the scaled statistic
    S_k = n*cumsum_k - k*total equals n² × (cumsum_k - k*mean)/n — the
    CUSUM curve scaled by the positive constant n, so argmax |S_k| is
    the SAME day with every quantity an exact BIGINT (no mean
    division ever happens). Work: one (type, day) rollup + two windows
    over the tiny daily series. Returns (event_type, change_day,
    s_abs_scaled, n_days) with s_abs_scaled an exact BIGINT — the
    DECIMAL(38,0) statistic stays exact end-to-end (a double cast
    would silently lose exactness past 2^53 for long/high-magnitude
    series), and the ANSI-mode BIGINT cast fails loudly beyond int64
    instead of corrupting quietly; ties resolve to the earliest day.
    """
    daily = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(type_col).alias("g"),
            F.expr(f"unix_micros({ts_col}) div 86400000000").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * 1e6).cast("long")).alias("v")
        )
    )
    wo = Window.partitionBy("g").orderBy("day")
    wa = Window.partitionBy("g")
    scored = daily.select(
        "g",
        "day",
        (
            F.sum("v").over(wa).cast("decimal(38,0)")  # total
        ).alias("tot"),
        F.sum("v")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(38,0)")
        .alias("cum"),
        F.row_number().over(wo).cast("long").alias("k"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
    ).select(
        "g",
        "day",
        "n",
        F.abs(
            F.col("n") * F.col("cum") - F.col("k") * F.col("tot")
        ).alias("s_abs"),
    )
    pick = Window.partitionBy("g")
    return (
        scored.withColumn(
            "m",
            F.max(F.struct(F.col("s_abs"), (-F.col("day")).alias("nd")))
            .over(pick),
        )
        .where(
            (F.col("s_abs") == F.col("m.s_abs"))
            & (F.col("day") == -F.col("m.nd"))
        )
        .select(
            F.col("g").alias("event_type"),
            F.col("day").alias("change_day"),
            # exact end-to-end: the DECIMAL(38,0) statistic lands as
            # BIGINT (a double cast would silently lose exactness past
            # 2^53). Under ANSI mode the cast FAILS LOUDLY if a series
            # is long/high-magnitude enough to exceed int64 (needs
            # n * |cum_micro| > 9.2e18) instead of corrupting quietly.
            F.col("s_abs").cast("decimal(38,0)").cast("bigint")
            .alias("s_abs_scaled"),
            F.col("n").alias("n_days"),
        )
        .orderBy("event_type")
    )


def ab_test_readout(
    events: DataFrame,
    salt: str = "exp1",
    conversion_type: str = "purchase",
    min_conversions: int = 1,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """A/B experiment readout over a deterministic hash assignment:
    each user lands in variant A or B by the first md5 byte of
    (user_id || salt) — the reproducible bucketing every experiment
    platform uses — and the readout reports per variant the exact
    user / converted-user counts and conversion revenue, plus the
    mirrored two-proportion z statistic (the one floating expression,
    micro-quantized, identical on both output rows).

    One user-level aggregate (|users|-sized), one 2-row rollup, one
    broadcast of the 2-row summary back for the z computation.
    """
    users = (
        events.groupBy(F.col(user_col).alias("u"))
        .agg(
            (
                F.sum(
                    F.when(F.col(type_col) == conversion_type, 1)
                    .otherwise(0)
                )
                >= min_conversions
            )
            .cast("int")
            .alias("conv"),
            F.sum(
                F.when(
                    F.col(type_col) == conversion_type,
                    F.round(F.col(value_col) * 1e6).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("rev"),
        )
        .withColumn(
            "variant",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("u").cast("string"),
                                       F.lit(salt))), 1, 2
                    ),
                    16, 10,
                ).cast("int") % 2 == 0,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    per = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_converted"),
        F.sum("rev").cast("bigint").alias("revenue_micro"),
    )
    # ONE-row summary via conditional agg (never empty): if every user
    # hashes into a single variant, the missing side's counts are NULL
    # and z_micro surfaces as NULL next to the per-variant rows —
    # an a-side x b-side join would instead produce ZERO z rows and
    # silently drop the whole readout on a degenerate split.
    ab = per.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users")))
        .alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("n_converted")))
        .alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users")))
        .alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("n_converted")))
        .alias("cb"),
    )
    # every division on explicit doubles: Spark 4 ANSI integer "/" is
    # integral division (pooled p collapsed to 0/1 and a degenerate
    # all-converted split threw DIVIDE_BY_ZERO before this cast)
    na, ca = F.col("na").cast("double"), F.col("ca").cast("double")
    nb, cb = F.col("nb").cast("double"), F.col("cb").cast("double")
    pooled = (ca + cb) / (na + nb)
    z = ab.select(
        F.round(
            (
                (ca / na - cb / nb)
                / F.sqrt(
                    pooled * (1 - pooled)
                    * (F.lit(1.0) / na + F.lit(1.0) / nb)
                )
            )
            * 1e6
        )
        .cast("bigint")
        .alias("z_micro")
    )
    return (
        per.crossJoin(F.broadcast(z))
        .select(
            "variant", "n_users", "n_converted", "revenue_micro", "z_micro"
        )
        .orderBy("variant")
    )


def group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple = (50, 95),
) -> DataFrame:
    """Exact nearest-rank percentiles per group over an integer value
    column, computed on the (group, value) HISTOGRAM — domain-sized
    work, no per-group sort (the winsorized_stats percentile kernel,
    exposed as a reusable operator). Returns one row per group with
    n plus a p{p} column per requested percentile."""
    h = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("g").orderBy(F.col("x").asc())
    cum = h.select(
        "g", "x",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("g")).alias("n"),
    )
    out = cum.select("g", F.col("n")).groupBy("g").agg(
        F.max("n").cast("bigint").alias("n")
    )
    for p in ps:
        hit = cum.where(
            F.col("cum") >= F.floor((F.col("n") * p + 99) / 100)
        )
        rnk = Window.partitionBy("g").orderBy(F.col("x").asc())
        pc = (
            hit.withColumn("_r", F.row_number().over(rnk))
            .where(F.col("_r") == 1)
            .select("g", F.col("x").alias(f"p{p}"))
        )
        out = out.join(F.broadcast(pc), "g")
    return out.select(
        F.col("g").alias(group_col), "n",
        *[F.col(f"p{p}") for p in ps]
    ).orderBy(group_col)


def seasonal_outliers(
    events: DataFrame,
    z: float = 3.0,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Seasonality-aware anomaly detection: per (event_type,
    hour-of-week) cell, flag events whose value deviates more than z
    sigma from THAT CELL's mean — the detector that doesn't page you
    for normal Monday-morning load just because the weekend was quiet
    (a plain per-type z-score mixes all 168 hourly regimes into one
    inflated variance).

    hour-of-week is epoch-anchored ((epoch_us div 3600e6) mod 168 —
    pure integer arithmetic, identical on any engine/timezone). The
    moments machinery is value_outliers': BIGINT micro values, exact
    DECIMAL(38,0) S/Q per cell, the decision (n*x - S)^2 > z^2 *
    (n*Q - S^2) evaluated on exact integers through one fixed-shape
    double product. Cells with n == 1 never flag (den = 0). One scan
    for the <=|types|*168-row moment table (broadcast back), one scan
    for the filter. Returns (event_id, event_type, how, value_micro,
    z2) — z2 > z^2 > 0 always, so no signed-zero hazard.
    """
    x = F.round(F.col(value_col) * F.lit(1e6)).cast("long")
    # integer div, never float: a double quotient truncated to long can
    # disagree with floor division by one ulp at epoch magnitudes
    how = F.expr(f"unix_micros({ts_col}) div 3600000000") % 168
    m = events.where(F.col(value_col).isNotNull()).select(
        id_col, type_col, how.alias("how"), x.alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = m.groupBy(type_col, "how").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("s"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("q"),
    )
    num = (dec(F.col("n")) * dec(F.col("x")) - F.col("s")).cast("double")
    den = (dec(F.col("n")) * F.col("q") - F.col("s") * F.col("s")).cast(
        "double"
    )
    return (
        m.join(F.broadcast(stats), [type_col, "how"])
        .where(num * num > F.lit(float(z * z)) * den)
        .select(
            id_col,
            type_col,
            "how",
            F.col("x").alias("value_micro"),
            F.round((num * num) / den, 6).alias("z2"),
        )
        .orderBy(id_col)
    )


def incremental_rollup_merge(
    history: DataFrame,
    delta: DataFrame,
    keys: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Incremental aggregate maintenance: merge yesterday's rollup
    SNAPSHOT with today's DELTA without rescanning history — the
    steady-state shape of every 100 TB metrics pipeline (history is
    petabytes; the delta is one day). Both inputs are partial
    aggregates of the same algebraic form (COUNT and micro-SUM are
    commutative monoids), so the merge is a union + one re-aggregate
    keyed shuffle; correctness is the algebraic identity
    agg(A ∪ B) = merge(agg(A), agg(B)), which the registered query
    proves by comparing against a full recompute oracle.

    history/delta: raw event rows; each side aggregates independently
    (in production the history side is the stored snapshot — here it
    is derived so the oracle can see the same split). Returns one row
    per key tuple: (*keys, n_events, sum_micro).
    """
    def part(df: DataFrame) -> DataFrame:
        return df.where(F.col(value_col).isNotNull()).groupBy(
            *keys
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.round(F.col(value_col) * F.lit(1e6)).cast("long")
            ).alias("sum_micro"),
        )

    return (
        part(history)
        .unionByName(part(delta))
        .groupBy(*keys)
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_micro").cast("bigint").alias("sum_micro"),
        )
    )


def walkforward_split(
    events: DataFrame,
    n_folds: int = 4,
    embargo_us: int = 86_400_000_000,
    ts_col: str = "ts",
) -> DataFrame:
    """Walk-forward (expanding-window) time-series cross-validation
    assignment with an embargo — the leakage-safe temporal CV a
    time-dependent model must use instead of a random split: the time
    span is cut into n_folds equal test windows; for test fold f, a
    row is TRAIN iff it precedes the fold's window by more than
    `embargo_us` (the embargo purges rows whose influence leaks across
    the boundary through windowed features), TEST iff inside the
    window, and excluded otherwise (never future rows). Returns one
    row per (event, fold) with the role — the explode is bounded by
    n_folds, a constant.

    Scale shape (100 TB): the fold boundaries derive from ONE 1-row
    min/max aggregate broadcast back; assignment is a scan-speed
    expression over the crossed fold sequence (events × n_folds rows,
    linear); no shuffle at all beyond the anchor."""
    b = events.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("t0"),
        F.max(F.unix_micros(F.col(ts_col))).alias("t1"),
    )
    tagged = events.withColumn(
        "_tus", F.unix_micros(F.col(ts_col))
    ).crossJoin(F.broadcast(b))
    # fold f's test window is [t0 + f*w, t0 + (f+1)*w) with
    # w = ceil(span+1 / n_folds) so the max timestamp lands in the
    # last fold (integer arithmetic, engine-portable)
    w = F.ceil((F.col("t1") - F.col("t0") + 1) / F.lit(n_folds)).cast("long")
    folds = tagged.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_folds - 1))
        ).alias("fold"),
    )
    lo = F.col("t0") + F.col("fold") * w
    hi = F.col("t0") + (F.col("fold") + 1) * w
    role = (
        F.when((F.col("_tus") >= lo) & (F.col("_tus") < hi), F.lit("test"))
        .when(F.col("_tus") < lo - F.lit(embargo_us), F.lit("train"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        folds.select(
            "*", F.col("fold").cast("int").alias("_f"), role.alias("role")
        )
        .where(F.col("role").isNotNull())
        .drop("t0", "t1", "_tus", "fold")
        .withColumnRenamed("_f", "fold")
    )


def time_weighted_avg(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted average (TWAP) per key over an irregular sample
    timeline — the temporal-DB aggregate (TimescaleDB time_weight)
    a plain AVG gets wrong whenever sampling is uneven: each value
    holds from its timestamp until the key's next event (LOCF
    weighting; the final event carries zero weight). Exactness
    contract: micro-quantized values times exact microsecond durations
    accumulate in DECIMAL(38,0); the single final division is the only
    double. Returns (key, n_events, dur_us, twap_micro).

    Scale shape: ONE key-partitioned window (lead) feeding a groupBy
    on the same key — Spark reuses the exchange, so one shuffle
    total; output is |keys|-sized."""
    seg = events.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        F.round(F.col(value_col) * 1_000_000, 0).cast("long").alias("vu"),
    ).select(
        "key", "vu",
        (F.lead("t_us").over(
            Window.partitionBy("key").orderBy("t_us", "vu")
        ) - F.col("t_us")).alias("dur"),
    )
    agg = seg.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.coalesce(F.sum("dur"), F.lit(0)).cast("bigint").alias("dur_us"),
        F.sum(
            F.col("vu").cast("decimal(38,0)") * F.coalesce(F.col("dur"), F.lit(0))
        ).alias("wsum"),
    )
    twap = F.when(
        F.col("dur_us") > 0,
        F.round(F.col("wsum").cast("double") / F.col("dur_us")),
    ).otherwise(F.lit(None)).cast("bigint")
    return agg.select("key", "n_events", "dur_us", twap.alias("twap_micro"))


def m4_downsample(
    events: DataFrame,
    n_buckets: int = 24,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """M4 time-series downsampling — the error-free visualization
    reduction (Jugel et al., VLDB 2014): per (key, time bucket) emit
    min, max, first and last values; a line chart drawn from the M4
    tuples is pixel-identical to one drawn from all points. First/last
    are made deterministic under timestamp ties by resolving to the
    MIN value among rows at the bucket's boundary timestamps (an
    explicit, engine-portable tie rule). Bucket ids derive from the
    key-independent global [min, max] span (one 1-row anchor).

    Scale shape: one scan + one (key, bucket) aggregate; the boundary
    values fold into the same aggregate via a window over the same
    partitioning (exchange reused); output is keys × buckets."""
    b = events.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("t0"),
        F.max(F.unix_micros(F.col(ts_col))).alias("t1"),
    )
    base = events.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        F.round(F.col(value_col) * 1_000_000, 0).cast("long").alias("vu"),
    ).crossJoin(F.broadcast(b))
    w = F.ceil((F.col("t1") - F.col("t0") + 1) / F.lit(n_buckets)).cast("long")
    bucketed = base.select(
        "key", "t_us", "vu", (F.col("t_us") - F.col("t0")).alias("dt"),
        w.alias("w"),
    ).select(
        "key", "t_us", "vu",
        F.expr("dt div w").alias("bucket"),
    )
    wk = Window.partitionBy("key", "bucket")
    marked = bucketed.select(
        "key", "bucket", "t_us", "vu",
        F.min("t_us").over(wk).alias("tmin"),
        F.max("t_us").over(wk).alias("tmax"),
    )
    return (
        marked.groupBy("key", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("vu").alias("v_min"),
            F.max("vu").alias("v_max"),
            F.min(F.when(F.col("t_us") == F.col("tmin"), F.col("vu")))
            .alias("v_first"),
            F.min(F.when(F.col("t_us") == F.col("tmax"), F.col("vu")))
            .alias("v_last"),
        )
        .select(
            "key", F.col("bucket").cast("int").alias("bucket"), "n",
            "v_min", "v_max", "v_first", "v_last",
        )
    )


def acf(
    events: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Autocorrelation of the daily event-count series per event type,
    at day lags `lags`: Pearson r over the (x_d, x_{d-lag}) pairs that
    BOTH exist (gap days pair with nothing — calendar-aligned join
    semantics, not row-shift). The five moment sums are exact integers
    (counts), cast to DOUBLE only in the final closed form, so both
    engines run one identical IEEE expression; zero-variance series
    yield NULL. Returns (event_type, lag, n_pairs, acf).

    Plan (100 TB): one groupBy to the (type, day) domain — the only
    shuffle that sees event-sized data — then a |days x types|-sized
    self equi-join per lag (the lag list explodes from a literal
    array, no join) and a domain-sized final aggregate."""
    d = events.groupBy(
        F.col(type_col).alias("etype"),
        F.col(ts_col).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    lagged = d.select(
        "etype",
        "day",
        F.col("c").alias("x"),
        F.explode(
            F.array(*[F.lit(int(v)).cast("int") for v in lags])
        ).alias("lag"),
    )
    pairs = lagged.alias("a").join(
        d.alias("b"),
        (F.col("b.etype") == F.col("a.etype"))
        & (F.col("b.day") == F.date_sub(F.col("a.day"), F.col("a.lag"))),
    ).select(
        F.col("a.etype").alias("etype"),
        F.col("a.lag").alias("lag"),
        F.col("a.x").alias("x"),
        F.col("b.c").alias("y"),
    )
    s = pairs.groupBy("etype", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return s.select(
        F.col("etype").alias("event_type"),
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        (
            F.when(
                (vx > 0) & (vy > 0),
                F.round(
                    (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)), 6
                )
                + F.lit(0.0),
            )
        ).alias("acf"),
    ).orderBy("event_type", "lag")


def cuped_readout(
    events: DataFrame,
    salt: str = "exp1",
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """CUPED-adjusted A/B readout: per-user post-period revenue
    (metric) and pre-period revenue (covariate) around the data's
    midpoint day, variants by the same deterministic md5 bucketing as
    ab_test_readout, theta = cov(pre, post) / var(pre) POOLED across
    variants (the standard single-theta CUPED), and per-variant
    adjusted means. Sums are exact cent-quantized integers; theta and
    the means are one fixed-shape double expression (round-6 + 0.0).
    Returns per variant (variant, n_users, sum_post_cents,
    sum_pre_cents, mean_post, mean_adj, theta).

    Plan (100 TB): one |users|-sized conditional aggregate (the only
    event-sized shuffle), one 1-row pooled-moment anchor broadcast
    back over the 2-row variant rollup. The midpoint split is a 1-row
    min/max anchor, not a config constant — no timezone drift."""
    span = events.agg(
        F.min(F.col(ts_col).cast("date")).alias("d0"),
        F.max(F.col(ts_col).cast("date")).alias("d1"),
    ).select(
        F.expr("date_add(d0, CAST(FLOOR(datediff(d1, d0) / 2.0) AS INT))")
        .alias("split_day")
    )
    ev = events.crossJoin(F.broadcast(span))
    cents = F.round(F.col(value_col) * 100).cast("long")
    is_conv = F.col(type_col) == conversion_type
    is_post = F.col(ts_col).cast("date") >= F.col("split_day")
    users = ev.groupBy(F.col(user_col).alias("u")).agg(
        F.sum(
            F.when(is_conv & is_post, cents).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(is_conv & ~is_post, cents).otherwise(F.lit(0))
        ).alias("c"),
    ).withColumn(
        "variant",
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("u").cast("string"), F.lit(salt))),
                    1, 2,
                ),
                16, 10,
            ).cast("int") % 2 == 0,
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    pooled = users.agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("c").alias("psc"),
        F.sum("x").alias("psx"),
        F.sum(F.col("c") * F.col("x")).alias("pscx"),
        F.sum(F.col("c") * F.col("c")).alias("pscc"),
    )
    per = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").cast("bigint").alias("sum_post_cents"),
        F.sum("c").cast("bigint").alias("sum_pre_cents"),
    )
    j = per.crossJoin(F.broadcast(pooled))
    pn = F.col("pn").cast("double")
    psc, psx = F.col("psc").cast("double"), F.col("psx").cast("double")
    pscx = F.col("pscx").cast("double")
    pscc = F.col("pscc").cast("double")
    varc = pn * pscc - psc * psc
    theta = F.when(
        varc > 0, (pn * pscx - psc * psx) / varc
    ).otherwise(F.lit(0.0))
    mean_post = (
        F.col("sum_post_cents").cast("double")
        / F.col("n_users").cast("double")
    )
    mean_pre = (
        F.col("sum_pre_cents").cast("double")
        / F.col("n_users").cast("double")
    )
    gmean_pre = psc / pn
    return j.select(
        "variant",
        F.col("n_users").cast("bigint").alias("n_users"),
        "sum_post_cents",
        "sum_pre_cents",
        (F.round(mean_post, 6) + F.lit(0.0)).alias("mean_post"),
        (F.round(mean_post - theta * (mean_pre - gmean_pre), 6)
         + F.lit(0.0)).alias("mean_adj"),
        (F.round(theta, 6) + F.lit(0.0)).alias("theta"),
    ).orderBy("variant")


def woe_iv(
    events: DataFrame,
    conversion_type: str = "purchase",
    min_conversions: int = 12,
    bucket_width: int = 20,
    n_buckets: int = 5,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Weight-of-evidence / information-value screen of a candidate
    feature (total events per user, fixed-width buckets) against a
    binary target (converted = >= min_conversions purchase events —
    the ab_test_readout definition): per bucket the exact good/bad
    counts, WoE = ln((good_b/good_tot)/(bad_b/bad_tot)), and the IV
    contribution (good% - bad%) * WoE — the standard credit-scoring
    screen for "does this feature separate the classes at all".
    Empty-class buckets report woe_defined = false with 0.0 values
    (the industry smoothing choices are policy, not math; the flag
    surfaces them without leaving NULL floats). Both ln calls
    are micro-quantized integers (the entropy idiom) so the engines
    aggregate exactly; one fixed-shape double expression renders the
    outputs. Returns (bucket, n_users, n_good, n_bad, woe, iv_term).

    Plan (100 TB): one |users|-sized aggregate (the only event-volume
    shuffle), one n_buckets-row rollup with a broadcast 1-row totals
    anchor."""
    users = events.groupBy(F.col(user_col).alias("u")).agg(
        F.count(F.lit(1)).alias("n_ev"),
        (
            F.sum(
                F.when(F.col(type_col) == conversion_type, 1).otherwise(0)
            )
            >= min_conversions
        )
        .cast("int")
        .alias("good"),
    )
    b = F.least(
        (F.col("n_ev") / F.lit(bucket_width)).cast("long"),
        F.lit(n_buckets - 1).cast("long"),
    )
    per = (
        users.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("good").cast("bigint").alias("n_good"),
            F.sum(F.lit(1) - F.col("good")).cast("bigint").alias("n_bad"),
        )
    )
    tot = per.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    j = per.crossJoin(F.broadcast(tot))
    ok = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    lg = F.round(
        F.log(F.col("n_good").cast("double") / F.col("tg").cast("double"))
        * 1e6
    ).cast("long")
    lb = F.round(
        F.log(F.col("n_bad").cast("double") / F.col("tb").cast("double"))
        * 1e6
    ).cast("long")
    woe = (lg - lb).cast("double") / F.lit(1e6)
    share_gap = (
        F.col("n_good").cast("double") / F.col("tg").cast("double")
        - F.col("n_bad").cast("double") / F.col("tb").cast("double")
    )
    return j.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_users",
        "n_good",
        "n_bad",
        ok.alias("woe_defined"),
        F.when(ok, F.round(woe, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("woe"),
        F.when(ok, F.round(share_gap * woe, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("iv_term"),
    ).orderBy("bucket")


def survival_curve(
    events: DataFrame,
    conversion_type: str = "purchase",
    horizon_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Discrete Kaplan-Meier survival curve for time-to-conversion:
    cohort entry = the user's first event of any type, event = first
    `conversion_type` at/after entry, right-censoring at
    `horizon_days`. Per day d: the risk set n_d (entered, neither
    converted nor censored before d), conversion count e_d, censored
    count c_d, and the KM log-survival ln S(d) = sum_{i<=d}
    ln(1 - e_i/n_i) as an EXACT micro-quantized BIGINT (each term's
    ln is rounded to 1e-6 before the cumulative sum — the entropy
    idiom — so the curve is engine-exact in log space; exponentiate
    client-side for display). A day where everyone at risk converts
    drives S to 0: ln_s_micro reports the sentinel NULL via
    s_defined = false rather than -inf.

    Plan (100 TB): two |users|-sized aggregates (entry + first
    conversion) merged on the user key, then one horizon-sized (<=
    horizon_days+1 rows) grouped rollup and a bounded window cumsum
    over the day domain."""
    entry = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(F.col(ts_col)).alias("t0")
    )
    conv = (
        events.where(F.col(type_col) == conversion_type)
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(F.col(ts_col)).alias("t1c"))
    )
    per = entry.join(conv, "u", "left").select(
        "u",
        F.when(
            F.col("t1c").isNotNull() & (F.col("t1c") >= F.col("t0")),
            F.datediff(F.col("t1c").cast("date"), F.col("t0").cast("date")),
        ).alias("d_conv"),
    )
    # duration: converted within horizon -> event at d; else censored
    # at horizon (users whose only conversions precede entry are
    # censored too: their post-entry behavior is unobserved-converted)
    status = per.select(
        F.when(
            F.col("d_conv").isNotNull()
            & (F.col("d_conv") <= F.lit(horizon_days)),
            F.struct(
                F.col("d_conv").cast("long").alias("day"),
                F.lit(1).alias("is_event"),
            ),
        )
        .otherwise(
            F.struct(
                F.lit(horizon_days).cast("long").alias("day"),
                F.lit(0).alias("is_event"),
            )
        )
        .alias("s")
    ).select(F.col("s.day").alias("day"), F.col("s.is_event").alias("ev"))
    days = status.groupBy("day").agg(
        F.sum("ev").cast("long").alias("n_event"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("n_censored"),
    )
    w_after = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = days.agg(
        F.sum(F.col("n_event") + F.col("n_censored")).alias("_n")
    )
    staged = (
        days.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("_n")
            - F.coalesce(
                F.sum(F.col("n_event") + F.col("n_censored")).over(w_after),
                F.lit(0),
            ),
        )
        .withColumn(
            "term_micro",
            F.when(
                F.col("n_event") < F.col("n_risk"),
                F.round(
                    F.log(
                        F.lit(1.0)
                        - F.col("n_event").cast("double")
                        / F.col("n_risk").cast("double")
                    )
                    * 1e6
                ).cast("long"),
            ),
        )
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = staged.withColumn(
        "_alldef",
        F.min(F.col("term_micro").isNotNull().cast("int")).over(w_cum),
    ).withColumn("_cum", F.sum("term_micro").over(w_cum))
    return out.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "n_event",
        "n_censored",
        (F.col("_alldef") == 1).alias("s_defined"),
        F.when(F.col("_alldef") == 1, F.col("_cum"))
        .otherwise(F.lit(0).cast("long"))
        .alias("ln_s_micro"),
    ).orderBy("day")


def kmv_distinct(
    events: DataFrame,
    k: int = 32,
    type_col: str = "event_type",
    user_col: str = "user_id",
    salt: str = "kmv1",
) -> DataFrame:
    """K-minimum-values distinct-count sketch next to the exact
    answer: per event type, hash each distinct user to a uniform
    48-bit integer (md5 prefix — engine-portable, unlike xxhash64),
    keep the k smallest, and estimate |distinct| = (k-1) * 2^48 /
    v_(k); groups with < k members report their exact count. The
    output carries BOTH the estimate and the exact distinct count, so
    the sketch's error is part of the oracle-checked result — the
    evaluation a pipeline runs before trusting sketches at 10^9 keys
    where exact distinct is a full shuffle. Returns (event_type,
    n_exact, kth_hash, est).

    Plan (100 TB): one distinct (type, user) aggregate, then the
    k-smallest per type via TWO-PHASE salted windows — a local k-min
    inside each of 32 hash salts (parallel, partition-bounded) and a
    global k-min over the surviving 32*k rows per type. A single
    per-type window would funnel every distinct user of a type
    through ONE partition (5 event types = 5 straggler sorts at 10^9
    users); the two-phase plan is exact because the k smallest of a
    union are among the per-salt k smallest."""
    pairs = events.select(
        F.col(type_col).alias("etype"), F.col(user_col).alias("u")
    ).distinct()
    # KMV is a sketch over the SET of hash values: two distinct users
    # colliding on the 48-bit prefix contribute ONE value, exactly as
    # the streaming fold's set-merge does — dedup here so batch and
    # stream stay bit-identical at scales where collisions exist.
    hashed = pairs.select(
        "etype",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("u").cast("string"), F.lit(salt))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    salted = hashed.withColumn(
        "_salt", F.pmod(F.col("h"), F.lit(32))
    )
    w_local = Window.partitionBy("etype", "_salt").orderBy(
        F.col("h").asc()
    )
    local = salted.withColumn(
        "lrnk", F.row_number().over(w_local)
    ).where(F.col("lrnk") <= k)
    w = Window.partitionBy("etype").orderBy(F.col("h").asc())
    mins = local.withColumn("rnk", F.row_number().over(w))
    exact = pairs.groupBy("etype").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    kth = mins.where(F.col("rnk") == k).select(
        "etype", F.col("h").alias("kth_hash")
    )
    est = F.when(
        F.col("kth_hash").isNotNull(),
        F.round(
            F.lit(float(k - 1))
            * F.lit(281474976710656.0)
            / F.col("kth_hash").cast("double")
        ).cast("long"),
    ).otherwise(F.col("n_exact"))
    return (
        exact.join(kth, "etype", "left")
        .select(
            F.col("etype").alias("event_type"),
            "n_exact",
            F.coalesce(F.col("kth_hash"), F.lit(0).cast("long")).alias(
                "kth_hash"
            ),
            est.alias("est"),
        )
        .orderBy("event_type")
    )


def multi_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    horizon: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-touch and linear multi-touch attribution next to the
    last-touch operator: every conversion's credit is shared across
    ALL of its strictly-preceding touches within `horizon` — equally
    under 'linear' (each touch gets round(credit/n); the division is
    rounded PER TOUCH so the totals are order-free integers, with the
    sub-micro penny drift a documented semantic, not nondeterminism),
    or fully to the earliest touch under 'first'. Touchless
    conversions credit 'direct' in both models. Returns one row per
    (model, channel): conversion credit and revenue credit in exact
    micro-units (1e6 = one full conversion).

    Plan (100 TB): a (user, horizon-band) equi-join of conversions to
    touches — each touch is replicated to its own time band and the
    next (a touch in band b can only be in-horizon for conversions in
    bands b and b+1), so join CANDIDATES are <= touches within 2x the
    horizon per conversion, i.e. linear in the true in-horizon pair
    volume. A plain user-keyed join is quadratic per user when the
    user domain is fixed and per-user history grows (measured: 5.3e9
    candidates vs 2.4e7 real pairs at the sf10 sweep point, 100 s vs
    9 s wall). Then one conversion-keyed window for n/argmin and a
    |models x channels|-sized rollup. The residual horizon predicate
    is exact integer microseconds; banding changes the plan, never
    the result (each (conv, touch) pair matches on exactly one band
    key)."""
    hz = _interval_us(horizon)
    convs = events.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("u"),
        F.unix_micros(F.col(ts_col)).alias("tc"),
        F.col(tiebreak_col).alias("conv_id"),
        F.round(F.col(value_col) * 1e6).cast("long").alias("rev_micro"),
    )
    touches = events.where(F.col(type_col) != conversion_type).select(
        F.col(user_col).alias("u"),
        F.unix_micros(F.col(ts_col)).alias("tt"),
        F.col(type_col).alias("channel"),
        F.col(tiebreak_col).alias("touch_id"),
    )
    tb = F.floor(F.col("tt") / F.lit(hz)).cast("long")
    touches_banded = touches.withColumn(
        "hband", F.explode(F.array(tb, tb + F.lit(1)))
    )
    pairs = (
        convs.withColumn(
            "hband", F.floor(F.col("tc") / F.lit(hz)).cast("long")
        )
        .join(touches_banded, ["u", "hband"])
        .where(
            (F.col("tt") < F.col("tc"))
            & (F.col("tt") >= F.col("tc") - F.lit(hz))
        )
        .drop("hband")
    )
    wc = Window.partitionBy("conv_id")
    scored = pairs.withColumn(
        "n", F.count(F.lit(1)).over(wc)
    ).withColumn(
        "is_first",
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy(
                F.col("tt").asc(), F.col("touch_id").asc()
            )
        )
        == 1,
    )
    linear = scored.select(
        F.lit("linear").alias("model"),
        "channel",
        F.round(F.lit(1e6) / F.col("n")).cast("long").alias("cc"),
        F.round(F.col("rev_micro").cast("double") / F.col("n"))
        .cast("long")
        .alias("rc"),
    )
    first = scored.where(F.col("is_first")).select(
        F.lit("first").alias("model"),
        "channel",
        F.lit(1_000_000).cast("long").alias("cc"),
        F.col("rev_micro").alias("rc"),
    )
    touched_ids = pairs.select("conv_id").distinct()
    direct = (
        convs.join(touched_ids, "conv_id", "anti")
        .select("rev_micro")
        .crossJoin(
            F.broadcast(
                convs.sparkSession.createDataFrame(
                    [("linear",), ("first",)], "model string"
                )
            )
        )
        .select(
            "model",
            F.lit("direct").alias("channel"),
            F.lit(1_000_000).cast("long").alias("cc"),
            F.col("rev_micro").alias("rc"),
        )
    )
    return (
        linear.unionByName(first)
        .unionByName(direct)
        .groupBy("model", "channel")
        .agg(
            F.sum("cc").cast("bigint").alias("conv_credit_micro"),
            F.sum("rc").cast("bigint").alias("revenue_credit_micro"),
        )
        .orderBy("model", "channel")
    )


def target_encoding_oof(
    df: DataFrame,
    cat_col: str,
    target_cents,
    id_col: str,
    n_folds: int = 4,
    salt: str = "te1",
) -> DataFrame:
    """Out-of-fold target encoding: the category -> mean-target lookup
    a feature pipeline joins back onto training rows, computed so a
    row's own target NEVER leaks into its own encoding — fold f's
    encoding of category c is the mean over all OTHER folds'
    (c)-rows: (sum_c - sum_{c,f}) / (n_c - n_{c,f}). Folds are the
    deterministic md5 bucket of the row id (reproducible training
    data, not a lottery). Categories a fold has fully swallowed (no
    out-of-fold rows) surface enc_defined = false with the global
    prior. Returns (category, fold, n_oof, enc, enc_defined) — the
    |categories| x n_folds encoding table, exact integer sums with
    one fixed-shape double division.

    Plan (100 TB): ONE (category, fold) aggregate over the data (the
    only data-volume shuffle), a category-level rollup of that
    domain-sized table, and a broadcastable output. The leakage
    property is pinned by a unit test (perturbing one row's target
    must not move its own fold's encoding)."""
    folds = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col(id_col).cast("string"), F.lit(salt))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int"),
        F.lit(n_folds),
    )
    per = df.select(
        F.col(cat_col).alias("category"),
        folds.alias("fold"),
        target_cents.alias("t"),
    ).groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("n_cf"),
        F.sum("t").alias("s_cf"),
    )
    tot = per.groupBy("category").agg(
        F.sum("n_cf").alias("n_c"), F.sum("s_cf").alias("s_c")
    )
    g = per.crossJoin(
        F.broadcast(
            per.agg(
                F.sum("n_cf").alias("n_all"), F.sum("s_cf").alias("s_all")
            )
        )
    ).join(F.broadcast(tot), "category")
    n_oof = F.col("n_c") - F.col("n_cf")
    s_oof = F.col("s_c") - F.col("s_cf")
    prior = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    return g.select(
        "category",
        F.col("fold").cast("int").alias("fold"),
        n_oof.cast("bigint").alias("n_oof"),
        (
            F.when(
                n_oof > 0,
                F.round(s_oof.cast("double") / n_oof.cast("double"), 6)
                + F.lit(0.0),
            ).otherwise(F.round(prior, 6) + F.lit(0.0))
        ).alias("enc"),
        (n_oof > 0).alias("enc_defined"),
    ).orderBy("category", "fold")


def daily_trend(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-type linear trend of the daily event-count series: OLS
    slope (events/day) and intercept over (day_index, count) pairs,
    where day_index is days since the type's first active day — the
    growth/decay screen next to acf's seasonality screen. The four
    moment sums are exact integers; slope/intercept are one
    fixed-shape double closed form (round-6 + 0.0); a single-day
    series yields NULL-free zero-variance handling via trend_defined.
    Returns (event_type, n_days, slope, intercept, trend_defined).

    Plan (100 TB): one groupBy to the (type, day) domain (the only
    event-volume shuffle), a 1-row-per-type min-day anchor, and a
    |types|-sized moment rollup."""
    d = events.groupBy(
        F.col(type_col).alias("etype"),
        F.col(ts_col).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    d0 = d.groupBy("etype").agg(F.min("day").alias("day0"))
    m = d.join(d0, "etype").select(
        "etype",
        F.datediff(F.col("day"), F.col("day0")).cast("long").alias("x"),
        F.col("c").alias("y"),
    )
    s = m.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    varx = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / varx
    return s.select(
        F.col("etype").alias("event_type"),
        F.col("n").cast("bigint").alias("n_days"),
        F.when(varx > 0, F.round(slope, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("slope"),
        F.when(
            varx > 0,
            F.round((sy - slope * sx) / n, 6) + F.lit(0.0),
        )
        .otherwise(F.lit(0.0))
        .alias("intercept"),
        (varx > 0).alias("trend_defined"),
    ).orderBy("event_type")


def drift_series(
    events: DataFrame,
    baseline_days: int = 7,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day drift SERIES: the Laplace-smoothed PSI of each day's
    event-type mix against the first `baseline_days` days — psi_drift
    generalized from a two-period readout to the daily monitoring
    curve an alerting pipeline thresholds. Each (day, type) term is
    (p_day - p_base) * ln(p_day / p_base) with +1 smoothing over the
    closed type domain; every term is micro-quantized to an exact
    BIGINT BEFORE the per-day sum, so the curve is engine-exact (a
    raw double sum would be association-order-dependent). Returns
    (day, n_events, psi_micro, psi).

    Plan (100 TB): one (day, type) groupBy is the only event-volume
    shuffle; the baseline is a |types|-row broadcast; the series
    assembles on the |days x types| domain."""
    # pinned: d is the ONLY event-volume aggregate, but four downstream
    # subtrees read it (baseline anchor, type domain, day domain, the
    # series join) — without the pin each re-runs the full scan +
    # groupBy. Domain-sized (|days × types|), so the pin is free.
    d = pin(
        events.groupBy(
            F.col(ts_col).cast("date").alias("day"),
            F.col(type_col).alias("etype"),
        ).agg(F.count(F.lit(1)).alias("c")),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    d0 = d.agg(F.min("day").alias("day0"))
    types = d.select("etype").distinct()
    days = d.select("day").distinct()
    full = days.crossJoin(types)  # closed |days x types| domain
    d_full = full.join(d, ["day", "etype"], "left").select(
        "day", "etype", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    base = (
        d_full.crossJoin(F.broadcast(d0))
        .where(
            F.datediff(F.col("day"), F.col("day0")) < F.lit(baseline_days)
        )
        .groupBy("etype")
        .agg(F.sum("c").alias("cb"))
    )
    nt = types.count()
    nb = base.agg(F.sum("cb").alias("nb"))
    j = (
        d_full.join(F.broadcast(base), "etype")
        .crossJoin(F.broadcast(nb))
    )
    wday = Window.partitionBy("day")
    j = j.withColumn("nd", F.sum("c").over(wday))
    p_new = (F.col("c") + 1).cast("double") / (
        F.col("nd") + F.lit(nt)
    ).cast("double")
    p_old = (F.col("cb") + 1).cast("double") / (
        F.col("nb") + F.lit(nt)
    ).cast("double")
    lnq = (
        F.round(F.log(p_new / p_old) * 1e6).cast("long").cast("double")
        / F.lit(1e6)
    )
    term_micro = F.round((p_new - p_old) * lnq * 1e6).cast("long")
    out = j.groupBy("day").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(term_micro).cast("bigint").alias("psi_micro"),
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "psi_micro",
        (
            F.round(F.col("psi_micro").cast("double") / F.lit(1e6), 6)
            + F.lit(0.0)
        ).alias("psi"),
    ).orderBy("day")
