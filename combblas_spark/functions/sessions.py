"""Gap-based sessionization over an event stream.

The classic at-scale clickstream operator: order each user's events by
time, start a new session whenever the gap to the previous event exceeds
``gap_seconds``, then aggregate per session. Pure window + groupBy
Columns — no UDFs.

Scale design: ONE shuffle on user_id; the session-boundary window, the
running session index, and the per-session aggregation all reuse that
partitioning (Catalyst collapses them into a single exchange; the final
groupBy on (user_id, session_id) is a prefix-compatible re-agg). Work per
task is bounded by the busiest single user's event count — sessionization
is order-dependent per user, so user-level skew cannot be salted away
without a session-merge pass; a 10^8-event megauser should be pre-split
by a coarse time bucket upstream (each bucket sessionized independently,
boundary sessions merged) — noted, not needed at contract scale.

Timestamps are compared in integer microseconds (unix_micros /
epoch_us) so the Spark plan and the DuckDB oracle agree bit-for-bit —
no float epoch, no second-truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def sessionize(
    events: DataFrame,
    gap_seconds: int = 21600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-session rollup: (user_id, session_id, n_events, start_us,
    end_us, n_types, value_milli).

    session_id is the 1-based session index within the user (stable:
    events are ordered by (ts, event_id)). A session closes when the gap
    to the next event exceeds ``gap_seconds``. value_milli is
    sum(floor(value*1000)) — an EXACT integer total (a double SUM is
    addition-order-dependent across engines, so it can't be
    oracle-hashed even under ROUND).
    """
    # parquet timestamps arrive as TIMESTAMP_NTZ; unix_micros only takes
    # tz-aware TIMESTAMP. timestampdiff from the epoch is tz-free and
    # matches DuckDB's epoch_us(naive) exactly.
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        us = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    else:
        us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(order_tiebreak))
    gap_us = us - F.lag(us).over(w)
    is_new = (
        F.when(gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1)
        .otherwise(0)
        .cast("long")
    )
    tagged = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        us.alias("_us"),
        F.col("event_type"),
        F.col("value"),
        F.sum(is_new).over(w).alias("session_id"),
    )
    return (
        tagged.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.sum(F.floor(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("value_milli"),
        )
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    window_seconds: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Sequential conversion funnel: how many users performed
    ``steps[0]``, then ``steps[1]`` strictly after it, then ``steps[2]``
    strictly after that, … (earliest-completion semantics: each step's
    completion time is the MIN event time that follows the previous
    step's completion). ``window_seconds`` additionally requires each
    follow-up step to land within that many seconds of the previous
    step's completion (per-hop window, the usual product-analytics
    definition).

    -> (step_idx BIGINT 1-based, step STRING, n_users BIGINT), one row
    per step, n_users monotonically non-increasing.

    Scale design: per step, one filtered scan of the (predicate-pushed)
    event_type partition + a min-agg + an equi-join on user_id — every
    stage is keyed on user_id so Catalyst reuses one hash partitioning
    across all steps; no global window, no per-user event collection.
    Determinism: completion times are MINs of integer microseconds, so
    duplicate timestamps cannot make the result order-dependent.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        us = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    else:
        us = F.unix_micros(F.col(ts_col))
    ev = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col("event_type"),
        us.alias("_us"),
    )
    out = None
    cur = None
    for i, s in enumerate(steps):
        ev_s = ev.filter(F.col("event_type") == s).select("user_id", "_us")
        if cur is None:
            cur = ev_s.groupBy("user_id").agg(F.min("_us").alias("_t"))
        else:
            after_prev = F.col("_us") > F.col("_t")
            if window_seconds is not None:
                after_prev = after_prev & (
                    F.col("_us") <= F.col("_t") + F.lit(window_seconds * 1_000_000)
                )
            cur = (
                ev_s.join(cur, "user_id")
                .filter(after_prev)
                .groupBy("user_id")
                .agg(F.min("_us").alias("_t"))
            )
        row = cur.agg(
            F.lit(i + 1).cast("long").alias("step_idx"),
            F.lit(s).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def retention(
    events: DataFrame,
    bucket_seconds: int = 86400,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention table: users are cohorted by the time bucket of
    their FIRST event; each later event marks them active at
    ``bucket - cohort_bucket`` offset.

    -> (cohort_bucket BIGINT, bucket_offset BIGINT >= 0, n_active
    BIGINT distinct users), the classic growth-analytics triangle.

    Scale design: one min-agg on user_id for the cohort assignment, one
    user_id equi-join back onto the (predicate-pruned, two-column)
    event scan, one (cohort, offset) count-distinct — all keyed so the
    user_id partitioning is reused; output is O(#buckets^2) rows,
    independent of event volume. Buckets are exact BIGINT integer
    divisions of epoch microseconds (DIV in both engines) — no float
    date math, so the oracle hashes bit-for-bit.
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        us = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    else:
        us = F.unix_micros(F.col(ts_col))
    bucket_us = bucket_seconds * 1_000_000
    ev = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        us.alias("_us"),
    ).select("user_id", F.expr(f"_us DIV {bucket_us}").alias("bucket"))
    cohorts = ev.groupBy("user_id").agg(F.min("bucket").alias("cohort_bucket"))
    return (
        ev.join(cohorts, "user_id")
        .groupBy(
            F.col("cohort_bucket"),
            (F.col("bucket") - F.col("cohort_bucket")).alias("bucket_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix between event types: for each
    consecutive event pair within a user's (ts, tiebreak)-ordered stream,
    count (from_type, to_type) and its row-normalized probability.

    -> (from_type, to_type, n BIGINT, p DOUBLE ROUND(.,6)) with
    p = n / Σ n over the same from_type.

    Scale design: ONE shuffle on user_id feeds the lead() window (per-task
    work bounded by the busiest user, same contract as sessionize), then a
    map-side-combinable pair count; the row totals re-aggregate the
    |types|² transition table itself (tiny — broadcast joined back), never
    the raw events. p divides two exact BIGINTs — one IEEE division, so
    the ROUND(.,6) contract hashes identically cross-engine.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(order_tiebreak))
    pairs = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("_tot"), 6).alias("p"),
    )


def props_stats(events: DataFrame, path: str = "$.k") -> DataFrame:
    """Typed metadata extraction from a semi-structured JSON column — the
    ubiquitous event-pipeline first step: pull a typed field out of
    ``props`` with the JVM-side JSON path evaluator (get_json_object; no
    Python touches a row), then one map-side-combinable aggregate per
    event_type.

    -> (event_type, n, n_with_field BIGINT, sum_f, min_f, max_f BIGINT,
    nd_f BIGINT). Missing/non-numeric fields become NULL and are counted
    separately, never dropped silently. The 100-TB shape is a single
    partial+final hash aggregate keyed by the low-cardinality event_type —
    no shuffle of the raw payloads, the JSON parse happens inside the scan
    stage.
    """
    f = F.get_json_object(F.col("props"), path).cast("long")
    return (
        events.select(F.col("event_type"), f.alias("_f"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("_f").cast("long").alias("n_with_field"),
            F.sum("_f").cast("long").alias("sum_f"),
            F.min("_f").cast("long").alias("min_f"),
            F.max("_f").cast("long").alias("max_f"),
            F.countDistinct("_f").cast("long").alias("nd_f"),
        )
    )


def event_rollup(events: DataFrame) -> DataFrame:
    """Hierarchical (hypertable-style) rollup: one pass producing the
    (event_type, day), (event_type), and grand-total aggregates via
    Spark's native ``rollup`` — Catalyst plans an Expand + partial/final
    hash aggregate, so every level is map-side combinable and the raw
    events shuffle once, keyed by the low-cardinality grouping tuple.

    Value totals use the exact-integer trick (floor(value*1000) summed
    as int64) so rollup levels add up exactly and a SQL oracle matches
    without float-summation-order games. ``lvl`` = GROUPING(event_type)*2
    + GROUPING(day) (0 = leaf, 1 = per-type, 3 = grand total) — computed
    explicitly rather than grouping_id() so the bit order can't differ
    across engines.

    -> (event_type, day, n_events, value_e3, lvl); day as 'yyyy-MM-dd'
    string (engine-portable, no DATE-type hashing differences)."""
    e = events.select(
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 1000).cast("long").alias("v_e3"),
    )
    return e.rollup("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v_e3").cast("long").alias("value_e3"),
        (F.grouping("event_type") * 2 + F.grouping("day")).cast("long").alias("lvl"),
    )


def burst_days(
    series: DataFrame,
    key_col: str = "key",
    t_col: str = "t",
    cnt_col: str = "cnt",
    window: int = 7,
    factor_num: int = 3,
    factor_den: int = 1,
    min_trail: int = 3,
) -> DataFrame:
    """Burst detection over a per-key count series — the trending-topics
    pass: period t bursts when its count exceeds factor (default 3x) of
    the trailing mean over the previous ``window`` OBSERVED periods,
    with at least ``min_trail`` of history (cold keys never burst). The
    test is cross-multiplied exact-integer (cnt * trail_n * factor_den >
    factor_num * trail_sum) — no float mean, no variance estimate, so
    the flag replays bit-exactly in any engine. One lag-frame window per
    key: keys partition the stream, per-key frames are tiny, nothing
    global.

    Returns (key, t, cnt, trail_sum, trail_n, is_burst).
    """
    trail = (
        Window.partitionBy("key").orderBy("t").rowsBetween(-window, -1)
    )
    base = series.select(
        F.col(key_col).alias("key"),
        F.col(t_col).alias("t"),
        F.col(cnt_col).cast("long").alias("cnt"),
    )
    out = base.select(
        "key",
        "t",
        "cnt",
        F.coalesce(F.sum("cnt").over(trail), F.lit(0))
        .cast("long")
        .alias("trail_sum"),
        F.count("cnt").over(trail).cast("long").alias("trail_n"),
    )
    return out.withColumn(
        "is_burst",
        (F.col("trail_n") >= min_trail)
        & (
            F.col("cnt") * F.col("trail_n") * F.lit(factor_den)
            > F.lit(factor_num) * F.col("trail_sum")
        ),
    )


def llr_pairs(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Dunning log-likelihood-ratio co-occurrence scores between event
    types — the classic co-visitation / "people who did A also did B"
    recommendation signal (Dunning 1993; the G^2 test behind every
    production co-occurrence recommender). Raw counts over-rank
    popular-with-popular pairs; LLR scores the 2x2 user contingency
    table (both / only-A / only-B / neither) against independence, so a
    niche pair with perfect overlap outranks two blockbusters that
    merely share the audience every pair shares.

    Plan shape: distinct (user, type) once; k11 via a per-user
    self-join whose fan-out is bounded by the per-user distinct-type
    count (at web scale cap activity per user upstream — the standard
    interaction-cap — so the join is linear in interactions, never
    user-quadratic); margins are one tiny per-type aggregate and a
    1-row total, both broadcast. All contingency cells exact int64;
    the only doubles are the final x*ln(x) entropy terms, ROUND(.,6)
    with the +0.0 -0.0-normalization so both engines hash identically.

    Returns (type_a, type_b, k11, k12, k21, k22, llr) for co-occurring
    unordered pairs, type_a < type_b.
    """
    ut = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t")
    ).distinct()
    n_tot = ut.select("u").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    per_t = ut.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    a = ut.select("u", F.col("t").alias("type_a"))
    b = ut.select("u", F.col("t").alias("type_b"))
    k11 = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("k11"))
    )
    j = (
        k11.join(
            F.broadcast(
                per_t.select(F.col("t").alias("type_a"), F.col("n_t").alias("_na"))
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                per_t.select(F.col("t").alias("type_b"), F.col("n_t").alias("_nb"))
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n_tot))
    )
    k12 = F.col("_na") - F.col("k11")
    k21 = F.col("_nb") - F.col("k11")
    k22 = F.col("_n") - F.col("_na") - F.col("_nb") + F.col("k11")

    def _s(c):
        return F.when(c > 0, c.cast("double") * F.log(c.cast("double"))).otherwise(
            F.lit(0.0)
        )

    llr = F.lit(2.0) * (
        _s(F.col("k11")) + _s(k12) + _s(k21) + _s(k22)
        - _s(F.col("_na")) - _s(F.col("_n") - F.col("_na"))
        - _s(F.col("_nb")) - _s(F.col("_n") - F.col("_nb"))
        + _s(F.col("_n"))
    )
    return j.select(
        "type_a",
        "type_b",
        "k11",
        k12.cast("long").alias("k12"),
        k21.cast("long").alias("k21"),
        k22.cast("long").alias("k22"),
        (F.round(llr, 6) + F.lit(0.0)).alias("llr"),
    )


def regularity_audit(
    df: DataFrame,
    user_col: str = "user_id",
    t_col: str = "t_s",
    min_gaps: int = 8,
    cv2_num: int = 1,
    cv2_den: int = 100,
) -> DataFrame:
    """Metronome-bot detection by inter-event regularity: humans arrive
    with bursty, high-variance gaps; scripted clients tick. Flag users
    whose squared coefficient of variation CV^2 = var/mean^2 of
    inter-event gaps falls below ``cv2_num/cv2_den`` (default 1%) —
    the classic abuse/crawler heuristic, here as EXACT integer
    arithmetic: with n gaps g_i, CV^2 < c/d iff
    d * (n * sum(g^2) - sum(g)^2) < c * sum(g)^2 — cross-multiplied,
    no doubles anywhere (callers keep t in seconds so the squares stay
    far inside int64).

    Plan shape: one per-user lag window ordered by (t) — rows per task
    bounded by the busiest user, the sessionize skew note applies —
    then one map-side-combinable per-user aggregate. The gap MULTISET
    is order-independent under timestamp ties (tied events contribute
    zero gaps wherever they sort), so the output is deterministic
    without a tiebreak column. Users with fewer than ``min_gaps`` gaps
    are reported with is_bot = 0 (too little evidence — flagging a
    2-event user as a metronome is noise, and the threshold is in the
    output so the policy is auditable).

    Returns (user, n_gaps, gap_total, gap_sq_total, is_bot) — all
    int64.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(t_col).asc())
    g = df.select(
        F.col(user_col).alias("user"),
        (F.col(t_col) - F.lag(t_col).over(w)).cast("long").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    agg = g.groupBy("user").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("gap_total"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("gap_sq_total"),
    )
    s = F.col("gap_total")
    regular = (
        F.lit(int(cv2_den))
        * (F.col("n_gaps") * F.col("gap_sq_total") - s * s)
        < F.lit(int(cv2_num)) * s * s
    )
    return agg.withColumn(
        "is_bot",
        ((F.col("n_gaps") >= int(min_gaps)) & regular).cast("long"),
    )


def activity_streaks(
    df: DataFrame, user_col: str, ts_col: str, epoch: str = "1995-01-01"
) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity runs.

    The classic island trick: after deduping to (user, day), the day
    number minus the per-user row_number is CONSTANT within a
    consecutive run (days are distinct, so row_number is dense), so
    islands fall out of one groupBy — no iterative logic. One distinct,
    one per-user window (bounded by that user's active days, hash-
    partitioned by user — no global ordering), two aggregates.

    Output (user, n_days, n_islands, max_streak, first_day, last_day)
    — exact BIGINT counts and ISO date strings.
    """
    days = (
        df.select(
            F.col(user_col).alias("user"),
            F.to_date(F.col(ts_col)).alias("day"),
        )
        .distinct()
        .withColumn("dn", F.datediff(F.col("day"), F.lit(epoch).cast("date")))
    )
    w = Window.partitionBy("user").orderBy("dn")
    isl = days.withColumn("grp", F.col("dn") - F.row_number().over(w))
    runs = isl.groupBy("user", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    return runs.groupBy("user").agg(
        F.sum("len").cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("max_streak"),
        F.min("d0").cast("string").alias("first_day"),
        F.max("d1").cast("string").alias("last_day"),
    )


def ewma_drift(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    thresh_num: int = 1,
    thresh_den: int = 2,
) -> DataFrame:
    """ALL-INTEGER EWMA (alpha = 1/2) drift alarm over per-group period
    series — no doubles anywhere, so the whole trace is bit-exact.

    With s_1 = x_1 and s_t = (s_{t-1} + x_t)/2, the scaled level
    N_t = s_t * 2^(t-1) obeys N_t = N_{t-1} + x_t * 2^(t-2) — an exact
    int64 running sum of power-weighted terms (one bounded per-group
    window; raise at execution past 62 periods, the int64 shift
    budget). Period t >= 2 alerts when the relative deviation from the
    standing EWMA exceeds thresh_num/thresh_den (default 1/2), tested
    by cross-multiplication:
    |x_t*2^(t-2) - N_{t-1}| * thresh_den > thresh_num * N_{t-1}.

    Output (group, t, period, x, num_prev, alert) — num_prev is the
    scaled prior level N_{t-1} (0 for t = 1, which never alerts).

    62-PERIOD BUDGET: the scaled level shifts by 2^(t-2), so any group
    with > 62 distinct periods raises AT EXECUTION (int64 shift
    budget). Callers over unbounded time ranges must pre-bucket
    periods (e.g. weekly) so a group can never exceed 62 — the graded
    q_ewma_drift runs over per-type DAILY counts and relies on the
    events fixture spanning <= 62 distinct days (currently 30); a
    larger fixture must re-bucket, not widen the shift.
    """
    w = Window.partitionBy(group_col).orderBy(t_col)
    rn = F.row_number().over(w)
    base = df.withColumn("_t", rn)
    wt = F.when(
        F.col("_t") == 1, F.lit(1).cast("long")
    ).otherwise(
        F.when(
            F.col("_t") <= 62,
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_t AS INT) - 2)"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ewma_drift: > 62 periods in group "),
                    F.col(group_col).cast("string"),
                )
            )
        )
    )
    wtd = base.withColumn("_wx", F.col(x_col).cast("long") * wt)
    cum = wtd.withColumn(
        "_N",
        F.sum("_wx").over(
            Window.partitionBy(group_col)
            .orderBy("_t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    n_prev = F.col("_N") - F.col("_wx")
    dev = F.abs(F.col("_wx") - n_prev)
    return cum.select(
        F.col(group_col),
        F.col("_t").cast("long").alias("t"),
        F.col(t_col).alias("period"),
        F.col(x_col).cast("long").alias("x"),
        n_prev.cast("long").alias("num_prev"),
        F.when(
            (F.col("_t") >= 2)
            & (dev * F.lit(int(thresh_den)) > F.lit(int(thresh_num)) * n_prev),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alert"),
    )


def cusum_alarm(
    df: DataFrame,
    group_col: str,
    t_col: str,
    x_col: str,
    h_mult: int = 2,
    k_ref: int | None = None,
) -> DataFrame:
    """One-sided CUSUM changepoint alarm over per-group period series,
    ALL-INTEGER via the prefix-sum identity.

    The textbook recurrence S_t = max(0, S_{t-1} + (x_t - k)) is a
    sequential scan; its closed form S_t = P_t - min(0, min_{i<=t} P_i)
    (P = prefix sum of deviations) makes it TWO bounded per-group
    windows — a cumulative sum and a running min — with no recursion
    and no doubles. The reference level k is the group's integer mean
    (sum DIV n, one broadcast-sized aggregate) unless an explicit
    ``k_ref`` is given (control-chart practice: fix k from a training
    window — also what any online use needs, since a stream cannot
    know its own future mean); the alarm fires when S_t > h_mult * k.
    Output (group, period, x, k, s, alarm) — every column exact
    int64.
    """
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(t_col).alias("period"),
        F.col(x_col).cast("long").alias("x"),
    )
    if k_ref is None:
        kref = base.groupBy("g").agg(
            F.expr("SUM(x) DIV COUNT(*)").cast("long").alias("k")
        )
        j = base.join(F.broadcast(kref), on="g")
    else:
        j = base.withColumn("k", F.lit(int(k_ref)).cast("long"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.sum(F.col("x") - F.col("k")).over(wcum)
    runmin = F.min(p).over(wcum)
    s = p - F.least(F.lit(0).cast("long"), runmin)
    return j.select(
        F.col("g").alias(group_col),
        "period",
        "x",
        "k",
        s.cast("long").alias("s"),
        F.when(s > F.lit(int(h_mult)) * F.col("k"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alarm"),
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    window_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Last-touch marketing attribution: every conversion event
    credits the same user's most recent STRICTLY-PRECEDING touch event
    within ``window_seconds``; conversions with no qualifying touch
    credit ``'<none>'``.

    One per-user window (running last over the touch columns with the
    frame ending at 1 PRECEDING — ties at the same microsecond resolve
    by the tiebreak order, deterministically) + one count aggregate:
    ``(touch_type, n_conversions)``. The serving-side sibling of the
    funnel (which asks "did the sequence complete"; this asks "who
    gets credit").
    """
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        us = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    else:
        us = F.unix_micros(F.col(ts_col))
    ev = events.select(
        F.col(user_col).alias("u"),
        us.alias("_us"),
        F.col(type_col).alias("ty"),
        F.col(tiebreak_col).alias("tb"),
    )
    is_touch = F.col("ty").isin(list(touch_types))
    w = (
        Window.partitionBy("u")
        .orderBy("_us", "tb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "_lt_us", F.last(F.when(is_touch, F.col("_us")), True).over(w)
    ).withColumn(
        "_lt_ty", F.last(F.when(is_touch, F.col("ty")), True).over(w)
    )
    conv = tagged.filter(F.col("ty") == conversion_type)
    credited = F.when(
        F.col("_lt_us").isNotNull()
        & (F.col("_us") - F.col("_lt_us")
           <= F.lit(int(window_seconds) * 1_000_000)),
        F.col("_lt_ty"),
    ).otherwise(F.lit("<none>"))
    return (
        conv.select(credited.alias("touch_type"))
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
    )
