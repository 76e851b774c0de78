"""Batch event-sequence analytics: funnels and retention cohorts.

No counterpart in the reference (its event surface is joins/windows —
SURVEY.md §2.9); these are the product-analytics operators an events
warehouse runs constantly, built as pure declarative join/agg chains
so Catalyst plans them like any other relational query.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "kaplan_meier",
    "funnel",
    "retention_cohorts",
    "sequence_ngrams",
    "robust_anomalies",
    "last_touch_attribution",
    "rfm_segments",
    "transition_matrix",
    "linear_attribution",
    "resample_locf",
    "ewma_per_key",
    "sessionized_attribution",
    "ab_test",
    "activity_streaks",
    "interval_concurrency",
    "coalesce_intervals",
    "cusum_per_key",
    "markov_removal_effects",
    "rolling_corr_daily",
    "token_bucket_per_key",
    "interpolate_hourly",
    "acf_daily",
    "burst_segments_per_key",
    "pattern_match_per_key",
]


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: for each user, the earliest time of
    step 0, then the earliest step-1 event STRICTLY AFTER it, and so
    on — the standard "signup → activate → purchase" conversion
    funnel where step k only counts if it happens after step k-1.

    Output: one row per user who completed step 0, with columns
    ``t_0 .. t_{k-1}`` (NULL from the first uncompleted step on) and
    ``steps_completed``.

    With ``window_seconds`` set, every later step must also land
    within that window of the user's step-0 time — the "converted
    within 7 days" funnel definition (an unbounded funnel counts a
    purchase two years after signup).

    Scale shape: one filtered aggregate per step over ONLY that
    step's events (each a small fraction of the corpus, filter pushed
    to the scan) joined on the user key, plus left joins to assemble
    the result — every shuffle is on ``user_col``, so AQE coalesces
    them into one exchange reuse chain; no windows, no state, no
    per-user event lists materialized.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_0"))
    )
    stages = [cur]
    prev = cur.withColumn("__t0", F.col("t_0"))
    for i, step in enumerate(steps[1:], start=1):
        matched = (
            df.filter(F.col(type_col) == step)
            .join(prev.select(user_col, f"t_{i-1}", "__t0"), user_col)
            .filter(F.col(ts_col) > F.col(f"t_{i-1}"))
        )
        if window_seconds is not None:
            # the whole funnel must complete within the window of entry
            matched = matched.filter(
                F.unix_micros(F.col(ts_col))
                - F.unix_micros(F.col("__t0"))
                <= F.lit(window_seconds * 1_000_000)
            )
        prev = matched.groupBy(user_col).agg(
            F.min(ts_col).alias(f"t_{i}"),
            F.min("__t0").alias("__t0"),
        )
        stages.append(prev.select(user_col, f"t_{i}"))
    out = stages[0]
    for i in range(1, len(stages)):
        out = out.join(stages[i], user_col, "left")
    completed = F.lit(1)
    for i in range(1, len(steps)):
        completed = completed + F.when(
            F.col(f"t_{i}").isNotNull(), 1
        ).otherwise(0)
    return out.select(
        user_col,
        *[F.col(f"t_{i}") for i in range(len(steps))],
        completed.cast("int").alias("steps_completed"),
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users grouped by their FIRST-active
    period; for each (cohort, period-offset) the number of cohort
    members active in that period.

    Output: (cohort, period_offset, n_users) with period_offset in
    periods since the cohort's start (offset 0 row = cohort size).

    Scale shape: one aggregate for first-activity per user, one
    distinct over (user, period) — both shuffles on the user key — and
    a final count keyed by the (small) cohort grid.  The first-seen
    table joins back broadcast-or-shuffled on ``user_col``; no windows.
    """
    bucket = F.date_trunc(period, F.col(ts_col))
    first = df.groupBy(user_col).agg(F.min(bucket).alias("cohort"))
    active = df.select(F.col(user_col), bucket.alias("p")).distinct()
    joined = active.join(first, user_col)
    # integer period offset: weeks are fixed 7-day spans, so the
    # timestamp difference is exact integer weeks
    seconds = F.unix_timestamp("p") - F.unix_timestamp("cohort")
    per_seconds = {"week": 604800, "day": 86400, "hour": 3600}
    if period not in per_seconds:
        raise ValueError(f"unsupported period {period!r}")
    offset = (seconds / per_seconds[period]).cast("long")
    return (
        joined.select(F.col("cohort"), offset.alias("period_offset"))
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "cohort",
            F.col("period_offset").cast("int").alias("period_offset"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


def sequence_ngrams(
    df: DataFrame,
    n: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Frequent ordered event-type n-grams across user streams — the
    "what do users do next" path-mining primitive (a Markov-transition
    / clickstream-pattern count).

    Each user's events are ordered by ``ts_col`` (ties broken by
    ``tiebreak_col`` so the sequence — and therefore the result — is
    deterministic); every run of ``n`` consecutive events contributes
    one n-gram ``t1>t2>...>tn``.  Returns (ngram, n_occurrences,
    n_users) sorted nowhere — compose with ``top_k_per_group`` or
    ORDER BY downstream.

    Scale shape: one shuffle on ``user_col`` for the ordering window
    (per-user streams are bounded; power-user skew is the same
    exposure as any sessionization and AQE's skew-split handles the
    window exchange), then one map-side-combined count keyed by the
    (small) n-gram vocabulary.  ``lead`` avoids materializing
    per-user event arrays.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from pyspark.sql.window import Window

    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col).orderBy(*order)
    parts = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, n)
    ]
    gram = F.concat_ws(sep, *parts)
    complete = parts[-1].isNotNull() if n > 1 else F.lit(True)
    return (
        df.select(F.col(user_col), gram.alias("ngram"), complete.alias("ok"))
        .filter(F.col("ok"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(user_col).alias("n_users"),
        )
    )


def robust_anomalies(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    k: int = 5,
    decimals: int = 4,
) -> DataFrame:
    """Robust (median/MAD) outlier detection per group — the metric
    anomaly screen that mean/stddev z-scores fail at, because the
    anomalies themselves inflate the baseline; the median and the
    median-absolute-deviation are 50%-breakdown robust.

    A value is anomalous when ``|v - median| > k * MAD``.  Output per
    group: (group, n, n_anomalies, med, mad).

    Determinism: values are snapped to the ``decimals`` integer grid
    first, so the exact interpolated percentile is a midpoint of two
    integers — exactly representable — and every later comparison is
    exact IEEE arithmetic on grid points; the result value-hashes
    against any engine's ``quantile_cont``.

    Scale shape: two grouped EXACT percentiles (sort-based aggregates,
    shuffles on the group key) + one broadcast-or-shuffled join of the
    per-group stats back onto the stream and a final count.  At
    100 TB swap the exact percentile for ``approx_percentile`` (the
    same plan shape, fully map-combinable) — exactness of the FLAG
    only moves where the threshold sits inside the sketch error.
    """
    p = float(10**decimals)
    g = df.select(
        F.col(group_col).alias("g"),
        F.floor(F.col(value_col) * p + F.lit(0.5)).cast("long").alias("v"),
    ).filter(F.col("v").isNotNull())
    med = g.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("med_g"))
    d = g.join(med, "g").select(
        "g", "v", "med_g", F.abs(F.col("v") - F.col("med_g")).alias("ad")
    )
    mad = d.groupBy("g").agg(F.expr("percentile(ad, 0.5)").alias("mad_g"))
    flagged = d.join(mad, "g")
    return (
        flagged.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("ad") > F.lit(float(k)) * F.col("mad_g"), 1)
                .otherwise(0)
            ).alias("n_anomalies"),
            F.first("med_g").alias("med_g"),
            F.first("mad_g").alias("mad_g"),
        )
        .select(
            F.col("g").alias(group_col),
            "n",
            "n_anomalies",
            (F.col("med_g") / F.lit(p)).alias("med"),
            (F.col("mad_g") / F.lit(p)).alias("mad"),
        )
    )


def last_touch_attribution(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion: str = "purchase",
    touches: tuple = ("click", "signup"),
) -> DataFrame:
    """Last-touch attribution: each conversion event is credited to the
    most recent PRECEDING touch event of the same user (NULL when the
    user converted with no prior touch) — the standard marketing /
    funnel-credit assignment.

    One window over (user, ts, id): ``last(touch_id, ignorenulls)`` up
    to the current row, then filter to conversions.  Scale: a single
    shuffle on the user key; the running last is O(1) state per row —
    no self-join, no per-user collect.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_id = F.when(F.col(type_col).isin(*touches), F.col(id_col))
    touch_ts = F.when(F.col(type_col).isin(*touches), F.col(ts_col))
    out = df.withColumn("touch_id", F.last(touch_id, ignorenulls=True).over(w))
    out = out.withColumn("touch_ts", F.last(touch_ts, ignorenulls=True).over(w))
    return out.filter(F.col(type_col) == conversion).select(
        F.col(user_col), F.col(id_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"), "touch_id", "touch_ts",
    )


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    buckets: int = 4,
    banding: str = "threshold",
    max_ntile_rows: int | None = 10_000_000,
) -> DataFrame:
    """RFM segmentation: per user, Recency (days between the user's
    last event and the corpus max timestamp), Frequency (event count)
    and Monetary (grid-exact value sum), each scored into ``buckets``
    quantile bands; score 1 is best (most recent / most frequent /
    highest spend).

    ``banding`` picks the quantile mechanism:

    - ``"threshold"`` (default): exact ``percentile_disc`` interior
      thresholds computed as ONE distributed aggregate
      (extended/profile.py ``quantile_thresholds``), broadcast back,
      and banded by comparison — a narrow map.  No window, no global
      sort: the plan that runs at billions of users.  Tie rule at a
      threshold: the ascending metric (recency) takes the BETTER
      band (``<=`` comparison), the descending metrics (frequency,
      monetary) take the WORSE band (strict ``>`` comparison) — the
      SQL oracle states the identical rule, so gates hash-match;
      band sizes are equal only up to ties.
    - ``"ntile"`` (opt-in): three global ntile windows with
      deterministic (metric, user) tie-breaks — exactly-equal band
      sizes, but each window is a SINGLE-PARTITION sort of the whole
      per-user table; kept for small-table parity comparisons only
      and GUARDED: more than ``max_ntile_rows`` distinct users raises
      (one count job) with a pointer at threshold banding.  Pass
      ``max_ntile_rows=None`` to explicitly accept the global sorts.

    Scale: the heavy shuffle is the per-user aggregate; the threshold
    aggregate buffers a value->count map (days/counts/cents:
    bounded); swap ``quantile_thresholds(exact=False)`` in for
    unbounded metrics.
    """
    per_user = df.groupBy(user_col).agg(
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")).alias(
            "monetary_cents"
        ),
    )
    overall = df.agg(F.max(ts_col).alias("max_ts"))
    scored = per_user.crossJoin(F.broadcast(overall)).select(
        F.col(user_col),
        F.datediff(F.col("max_ts"), F.col("last_ts")).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    if banding == "threshold":
        from .profile import band_by_thresholds, quantile_thresholds

        th = quantile_thresholds(
            scored,
            ["recency_days", "frequency", "monetary_cents"],
            buckets=buckets,
            exact=True,
        )
        n = buckets - 1
        r_ts = [F.col(f"recency_days_t{i}") for i in range(1, n + 1)]
        f_ts = [F.col(f"frequency_t{i}") for i in range(1, n + 1)]
        m_ts = [F.col(f"monetary_cents_t{i}") for i in range(1, n + 1)]
        return scored.crossJoin(F.broadcast(th)).select(
            user_col, "recency_days", "frequency", "monetary_cents",
            band_by_thresholds(F.col("recency_days"), r_ts).alias("r_score"),
            band_by_thresholds(
                F.col("frequency"), f_ts, descending=True
            ).alias("f_score"),
            band_by_thresholds(
                F.col("monetary_cents"), m_ts, descending=True
            ).alias("m_score"),
        )
    if banding != "ntile":
        raise ValueError(f"unknown banding: {banding!r} (threshold|ntile)")
    if max_ntile_rows is not None:
        n_users = scored.count()
        if n_users > max_ntile_rows:
            raise ValueError(
                f"banding='ntile' would run three single-partition global "
                f"sorts over {n_users} users (> max_ntile_rows="
                f"{max_ntile_rows}); use banding='threshold' (the scale "
                f"path) or pass max_ntile_rows=None to accept the sorts"
            )
    from pyspark.sql.window import Window

    r_w = Window.orderBy(F.asc("recency_days"), F.asc(user_col))
    f_w = Window.orderBy(F.desc("frequency"), F.asc(user_col))
    m_w = Window.orderBy(F.desc("monetary_cents"), F.asc(user_col))
    return scored.select(
        user_col, "recency_days", "frequency", "monetary_cents",
        F.ntile(buckets).over(r_w).alias("r_score"),
        F.ntile(buckets).over(f_w).alias("f_score"),
        F.ntile(buckets).over(m_w).alias("m_score"),
    )


def transition_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every observed ``(from_type, to_type)`` adjacent
    pair, the count and the row-normalized transition probability —
    the journey/next-action model behind funnel optimization and
    session simulation.

    ``prob`` is ONE double division of two exact BIGINT counts (the
    same value-hashing discipline as basket lift), so engines agree
    bit-for-bit.  Ordering inside a user is ``(ts, tiebreak)`` —
    deterministic under timestamp ties.

    Scale shape: the lead window is partitioned BY USER (bounded
    per-partition state, no global sort); the pair count is one
    map-combined aggregate over |types|² keys at most; the row totals
    re-aggregate the already-tiny pair table and broadcast back.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    seq = df.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    return pairs.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias(
            "prob"
        ),
    )


def linear_attribution(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion: str = "purchase",
    touches: tuple = ("click", "signup", "view"),
    grid: int = 1_000_000,
) -> DataFrame:
    """LINEAR multi-touch attribution: every touch between two
    conversions shares the following conversion's credit equally
    (1/n each) — the position-agnostic complement to
    :func:`last_touch_attribution`.

    Each event is stamped with its user's NEXT conversion id via ONE
    forward-looking ``first(…, ignorenulls)`` window (no self-join,
    no per-user collect); touches group by (user, next conversion)
    for the share count.  Per-touch credit is ``grid div n`` — a
    BIGINT floor — summed exactly per touch type; only the displayed
    credit pays one double division, so engines agree bit-for-bit.

    Output: ``(touch_type, n_touches, credit)``.

    Scale: one user-key window shuffle + two map-combined aggregates
    over (users × conversions) then (touch types) keys.
    """
    from pyspark.sql.window import Window

    w_fwd = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    conv_id = F.when(F.col(type_col) == conversion, F.col(id_col))
    ev = df.withColumn(
        "__nc", F.first(conv_id, ignorenulls=True).over(w_fwd)
    )
    t = ev.filter(
        F.col(type_col).isin(*touches) & F.col("__nc").isNotNull()
    ).select(user_col, "__nc", type_col)
    n = t.groupBy(user_col, "__nc").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per = t.groupBy(user_col, "__nc", type_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return (
        per.join(n, [user_col, "__nc"])
        .groupBy(type_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_touches"),
            F.sum(
                F.col("cnt") * F.expr(f"CAST({grid} AS BIGINT) div n")
            ).cast("long").alias("__cm"),
        )
        .select(
            F.col(type_col).alias("touch_type"),
            "n_touches",
            (F.col("__cm").cast("double") / F.lit(float(grid))).alias(
                "credit"
            ),
        )
    )


def resample_locf(
    df,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    step_seconds: int = 3600,
    decimals: int = 4,
):
    """Resample an irregular per-key timeseries onto a fixed time grid
    with last-observation-carried-forward gap filling — the
    feature-store / monitoring primitive ("hourly value per key, holes
    filled from the last reading") that SQL engines have no native
    operator for.

    Per key: buckets span from the key's first to its last
    observation; each bucket takes the LATEST observation inside it
    (order: ts, then ``id_col`` — deterministic under timestamp ties),
    empty buckets inherit the previous bucket's value (``is_observed``
    marks which).  Values are snapped to the ``decimals`` grid so the
    carried values are exact and engine-portable.

    Output: ``(key, bucket_ts, value, is_observed)``.

    Scale shape: the latest-per-bucket reduction and the forward fill
    are key-partitioned windows (bounded per-partition state, never a
    global sort); the grid generation is one per-key min/max aggregate
    followed by a narrow ``sequence``/``explode`` — grid rows stream
    out of the generator without materializing per-key arrays bigger
    than the bucket span.  For keys spanning years at second
    resolution, chunk the sequence (see pack_chunks for the pattern);
    at the default hourly step a decade is ~90k rows per key.
    """
    from pyspark.sql.window import Window

    step_us = step_seconds * 1_000_000
    p = float(10**decimals)
    obs = df.select(
        F.col(key_col).alias("k"),
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(step_us)).alias("b"),
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(id_col).alias("__id"),
        F.floor(F.col(value_col) * p + F.lit(0.5)).cast("long").alias("__v"),
    )
    w_last = Window.partitionBy("k", "b").orderBy(
        F.col("__us").desc(), F.col("__id").desc()
    )
    latest = (
        obs.withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select("k", "b", F.col("__v").alias("v_obs"))
    )
    bounds = obs.groupBy("k").agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    )
    grid = bounds.select(
        "k", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("b")
    )
    w_fill = (
        Window.partitionBy("k")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.join(latest, ["k", "b"], "left").select(
        "k",
        "b",
        F.last("v_obs", ignorenulls=True).over(w_fill).alias("__vf"),
        F.col("v_obs").isNotNull().alias("is_observed"),
    )
    return filled.select(
        F.col("k").alias(key_col),
        F.timestamp_micros(F.col("b") * F.lit(step_us)).alias("bucket_ts"),
        (F.col("__vf").cast("double") / F.lit(p)).alias("value"),
        "is_observed",
    )


def ewma_per_key(
    df,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    a: int = 1,
    b: int = 4,
    decimals: int = 2,
):
    """Per-key exponentially-weighted moving average as an ORDERED
    integer fold: ``v_0 = x_0``, ``v_t = floor((a·x_t + (b-a)·v_{t-1})
    / b)`` with rational smoothing ``α = a/b`` — the smoothed-metric
    primitive (load averages, latency trend, spend velocity) that no
    built-in window aggregate expresses, because the recurrence is
    neither associative nor commutative.

    Values ride the ``decimals`` integer grid and every step is one
    integer multiply-add plus a floor division, so the fold is exact
    and engine-portable (DuckDB: ``list_reduce`` over
    ``list(x ORDER BY ts, id)``).  Event order inside a key is
    (``ts_col``, ``id_col``) — deterministic under timestamp ties.

    Output: ``(key, ewma_cents, ewma, n)``.

    Scale shape: ONE map-combined... no — collect_list is a real
    per-key materialization: the fold is inherently sequential, so
    each key's ordered history must assemble in one place (the same
    constraint any stateful-stream EWMA has).  Per-key state = the
    key's event count; for keys whose history exceeds executor memory,
    fold bounded SEGMENTS and carry (v, weight) checkpoints instead —
    at the default event-table shape (≤ millions of rows per key)
    the direct fold is the right plan.
    """
    if not (0 < a < b):
        raise ValueError("need 0 < a < b (alpha = a/b in (0,1))")
    p = float(10**decimals)
    s = df.select(
        F.col(key_col).alias("k"),
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("us"),
            F.col(id_col).alias("id"),
            F.floor(F.col(value_col) * p + F.lit(0.5)).cast("long").alias("x"),
        ).alias("s"),
    )
    per = s.groupBy("k").agg(
        F.array_sort(F.collect_list("s")).alias("seq")
    )
    init = F.element_at(F.col("seq"), 1)["x"]
    rest = F.slice(
        F.col("seq"), 2, F.greatest(F.size("seq") - 1, F.lit(0))
    )
    fold = F.aggregate(
        rest,
        init,
        lambda acc, e: F.floor(
            (F.lit(a) * e["x"] + F.lit(b - a) * acc) / F.lit(b)
        ).cast("long"),
    )
    return per.select(
        F.col("k").alias(key_col),
        fold.alias("ewma_cents"),
        (fold.cast("double") / F.lit(p)).alias("ewma"),
        F.size("seq").cast("long").alias("n"),
    )


def sessionized_attribution(
    df,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion: str = "purchase",
    touches: tuple = ("click", "signup", "view"),
    gap_seconds: int = 1800,
):
    """Session-scoped attribution: conversions are credited only to
    touches inside the SAME session (inactivity gap > ``gap_seconds``
    starts a new one) — the marketing-analytics upgrade of
    :func:`last_touch_attribution`, which happily credits a touch from
    last month.  Per conversion: its session index, the session's
    FIRST preceding touch type (first-touch-in-session model) and the
    number of touches seen so far in the session.

    Output: ``(user, conversion_id, conversion_ts, session_idx,
    first_touch_type, n_touches_before)`` — ``first_touch_type`` NULL
    for organic conversions (no touch in session).

    Scale shape: everything is TWO window passes over one shuffle on
    the user key — the gap flag + running session index, then
    first/count accumulations partitioned by (user, session).  Same
    bounded-per-user state as any sessionization; no joins at all.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    gap_us = gap_seconds * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    prev = F.lag(us).over(w)
    is_new = (prev.isNull() | (us - prev > F.lit(gap_us))).cast("int")
    with_sess = df.withColumn(
        "__sess",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w2 = (
        Window.partitionBy(user_col, "__sess")
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_type = F.when(F.col(type_col).isin(*touches), F.col(type_col))
    out = with_sess.withColumn(
        "first_touch_type", F.first(touch_type, ignorenulls=True).over(w2)
    ).withColumn(
        "n_touches_before",
        F.sum(touch_type.isNotNull().cast("long")).over(w2),
    )
    return out.filter(F.col(type_col) == conversion).select(
        F.col(user_col),
        F.col(id_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        F.col("__sess").cast("long").alias("session_idx"),
        "first_touch_type",
        F.col("n_touches_before").cast("long").alias("n_touches_before"),
    )


def ab_test(
    df,
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion: str = "purchase",
    variant_expr=None,
):
    """Two-proportion A/B conversion analysis: users split into
    variants (default: deterministic ``user_id % 2`` — swap in the
    real assignment column via ``variant_expr``), per-variant distinct
    users and converting users, conversion rates, absolute lift, and
    the pooled two-proportion ``z²`` statistic (z² ~ χ²(1): compare
    against 3.84 for the usual 5% two-sided test — reporting z²
    instead of a p-value keeps the plan free of transcendental CDFs,
    so engines agree bit-for-bit).

    Output: one row ``(n_a, n_b, conv_a, conv_b, rate_a, rate_b,
    lift, z_sq)``; rates/lift/z² are fixed IEEE double sequences on
    exact BIGINTs, floored to the 1e6 grid.

    Scale shape: one distinct over (user, variant, converted) — the
    only shuffle, on the user key — then a two-row aggregate.
    """
    variant = (
        variant_expr
        if variant_expr is not None
        else (F.col(user_col) % 2 == 0)
    )
    per_user = (
        df.select(
            F.col(user_col).alias("u"),
            variant.alias("is_a"),
            (F.col(type_col) == conversion).cast("int").alias("c"),
        )
        .groupBy("u", "is_a")
        .agg(F.max("c").alias("converted"))
    )
    agg_row = per_user.agg(
        F.sum(F.col("is_a").cast("long")).alias("n_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(~F.col("is_a"), F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    q6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
        1000000.0
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z_sq = ((ra - rb) * (ra - rb)) / (
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return agg_row.select(
        "n_a", "n_b", "conv_a", "conv_b",
        q6(ra).alias("rate_a"),
        q6(rb).alias("rate_b"),
        q6(ra - rb).alias("lift"),
        q6(z_sq).alias("z_sq"),
    )


def activity_streaks(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active days per
    user (the classic streak query — retention / engagement-quality
    feature for training-data user sampling).

    The island trick stays fully key-partitioned at scale: distinct
    (user, day) pairs -> per-USER ``row_number`` ordered by day ->
    ``day - row_number`` is constant within a consecutive run (the
    island id) -> group by (user, island) for run lengths -> max per
    user.  Every window and aggregate is partitioned by the user key,
    so a 100 TB event log shuffles twice on user_id and never sees a
    single-partition sort; per-user state is bounded by that user's
    distinct active days.

    Output: ``(user_col, n_active_days, longest_streak, n_streaks)``.
    """
    from pyspark.sql.window import Window

    days = (
        df.select(
            F.col(user_col),
            F.to_date(F.col(ts_col)).alias("__day"),
        )
        .filter(F.col(user_col).isNotNull() & F.col("__day").isNotNull())
        .distinct()
    )
    w = Window.partitionBy(user_col).orderBy("__day")
    islands = days.withColumn(
        "__island",
        F.datediff(F.col("__day"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    runs = islands.groupBy(user_col, "__island").agg(
        F.count(F.lit(1)).cast("long").alias("__len")
    )
    return runs.groupBy(user_col).agg(
        F.sum("__len").cast("long").alias("n_active_days"),
        F.max("__len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


def interval_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Maximum number of simultaneously-open intervals (peak
    concurrency) and the first instant it is reached — the sweep-line
    query behind "peak concurrent sessions/connections/jobs".

    Intervals are half-open ``[start, end)`` over any orderable
    numeric domain (pass epoch micros for timestamps).  Each interval
    contributes a +1 delta at start and a -1 at end; the running sum
    of deltas in (t, delta) order — ends sort before starts at the
    same instant — is the concurrency curve.  The running sum is a
    distributed prefix scan (operators/sort.ordered_prefix_scan):
    range exchange + partition-local windows + a bounded carry-in
    table, never a single-partition global window.  The peak value and
    its first time are order-deterministic even with tied instants
    (within a +1 block the running values are the same multiset under
    any intra-block order).

    Output: one row ``(max_concurrent, at_t)``.
    """
    from ..operators.sort import ordered_prefix_scan

    starts = df.select(
        F.col(start_col).cast("long").alias("t"), F.lit(1).alias("d")
    )
    ends = df.select(
        F.col(end_col).cast("long").alias("t"), F.lit(-1).alias("d")
    )
    deltas = starts.unionByName(ends).filter(F.col("t").isNotNull())
    scanned = ordered_prefix_scan(
        deltas, ["t", "d"], "d", agg="sum", out_col="c"
    )
    peak = scanned.agg(F.max("c").alias("max_concurrent"))
    return (
        scanned.join(F.broadcast(peak), F.col("c") == F.col("max_concurrent"))
        .agg(
            F.min("max_concurrent").cast("long").alias("max_concurrent"),
            F.min("t").cast("long").alias("at_t"),
        )
    )


def coalesce_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping-or-touching intervals per key into maximal
    spans (the validity-interval "coalesce" every bitemporal warehouse
    needs: session stitching, coverage spans, outage windows).

    Per-key windows only — scale-safe like every sessionization here:
    order the key's intervals by (start, end); an interval starts a
    NEW span iff its start exceeds the running maximum end of all
    earlier intervals (strictly — touching spans merge); the island id
    is the running count of new-span flags; one aggregate per
    (key, island) emits the span.  Intervals are half-open or closed
    alike as long as both engines state the same strict comparison.

    Output: ``(key..., span_start, span_end, n_merged)``.
    """
    from pyspark.sql.window import Window

    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    prev_max = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new",
        (prev_max.isNull() | (F.col(start_col) > prev_max)).cast("int"),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(*key_cols, "__island").agg(
        F.min(F.col(start_col)).alias("span_start"),
        F.max(F.col(end_col)).alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    ).drop("__island")


def cusum_per_key(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str,
    threshold: int,
) -> DataFrame:
    """Per-key CUSUM changepoint screen, windows-only: the classic
    recurrence ``S_t = max(0, S_{t-1} + y_t)`` over integer deviations
    ``y`` has the closed form ``S_t = P_t − min(0, min_{j≤t} P_j)``
    with ``P`` the running prefix sum — so the inherently-sequential
    fold becomes two KEY-partitioned windows (prefix sum + running
    min), exact on the BIGINT lattice, no collect, no UDF (contrast
    :func:`ewma_per_key`, whose rational smoothing admits no such
    prefix form and pays an ordered fold).

    Alarms count the instants where ``S_t`` exceeds ``threshold``.

    Output: ``(key, n, max_cusum, n_alarms, final_cusum)``.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(key_col).alias("k"),
        *[F.col(c) for c in order_cols],
        F.col(value_col).cast("long").alias("__y"),
    )
    wk = Window.partitionBy("k").orderBy(*[F.col(c) for c in order_cols])
    runf = wk.rowsBetween(Window.unboundedPreceding, 0)
    withp = base.withColumn("__p", F.sum("__y").over(runf))
    scanned = withp.withColumn(
        "__s",
        F.col("__p")
        - F.least(F.lit(0).cast("long"), F.min("__p").over(runf)),
    )
    # final state needs no order-dependent picker: S_n = ΣY − min(0, min P)
    return scanned.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("__s").cast("long").alias("max_cusum"),
        F.sum((F.col("__s") > threshold).cast("long"))
        .cast("long")
        .alias("n_alarms"),
        (
            F.sum("__y")
            - F.least(F.lit(0).cast("long"), F.min("__p"))
        ).cast("long").alias("final_cusum"),
    ).withColumnRenamed("k", key_col)


def markov_removal_effects(
    df: DataFrame,
    channels: Sequence[str],
    conv_state: str,
    user_col: str = "user_id",
    order_col: str = "event_id",
    type_col: str = "event_type",
    iterations: int = 6,
) -> DataFrame:
    """Markov removal-effect attribution — the data-driven channel
    attribution model: build the journey transition chain (START →
    ... → conversion | END, each user truncated at first conversion),
    then for every channel re-run the chain WITH THAT STATE REMOVED
    (transitions into it divert to END) and measure how much
    conversion probability disappears.  Removal effect is the
    principled alternative to last-touch/linear heuristics.

    Exactness discipline: probabilities live in nano-units
    (``count·1e9 div out_total``) and conversion values propagate by
    ``iterations`` rounds of integer value iteration
    ``v'(s) = Σ p(s,t)·v(t) div 1e9`` — a FIXED plan both engines
    state identically (per-term products ≤ 1e18, sums bounded by the
    probability simplex, so int64 never overflows).  ``iterations``
    bounds the journey length credited; longer paths add ≤ the
    leftover simplex mass.

    All tables after the one corpus pass are (variants × states)
    sized — the iteration is driver-composed joins over broadcast-tiny
    frames.  Output: one row per variant (``base`` + one per removed
    channel): ``(variant, conv_nano, removal_permille)`` where
    ``removal_permille = (base − removed)·1000 div base`` and 0 for
    the base row.
    """
    from pyspark.sql.window import Window

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = df.sparkSession
    ev = df.select(
        F.col(user_col).alias("u"),
        F.col(order_col).cast("long").alias("o"),
        F.col(type_col).alias("t"),
    ).filter(F.col("u").isNotNull() & F.col("o").isNotNull())
    fp = (
        ev.filter(F.col("t") == conv_state)
        .groupBy("u")
        .agg(F.min("o").alias("__fp"))
    )
    trunc = ev.join(fp, "u", "left").filter(
        F.col("__fp").isNull() | (F.col("o") <= F.col("__fp"))
    )
    # the per-user journey window's exchange carries few bytes but the
    # lead/row_number pass over the whole truncated corpus is CPU-heavy,
    # so AQE's byte-based coalescing collapses it to ONE task (measured
    # 1 task × 4.15 s at sf0.1).  Pin the exchange at the session's
    # shuffle parallelism — exempt from AQE coalescing, reused by the
    # window (the knn_graph top-m fix, guide §2.5).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = Window.partitionBy("u").orderBy("o")
    # multi-consumer pin: BOTH the steps projection and the starts
    # filter consume the windowed sequence — unpinned, the union's two
    # branches each recomputed the whole scan+join+window chain
    # (verified in the before-plan: Scan parquet ×2, Window ×2)
    seq = (
        trunc.repartition(n_shuffle, "u")
        .withColumn("__nxt", F.lead("t").over(w))
        .withColumn("__rn", F.row_number().over(w))
        .localCheckpoint(eager=False)
    )
    steps = seq.select(
        F.col("t").alias("src"),
        F.coalesce(
            F.col("__nxt"),
            F.when(F.col("t") == conv_state, F.lit(None)).otherwise(
                F.lit("END")
            ),
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    starts = seq.filter(F.col("__rn") == 1).select(
        F.lit("START").alias("src"), F.col("t").alias("dst")
    )
    counts = (
        steps.unionByName(starts)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    variants = spark.createDataFrame(
        [("base", None)] + [(f"no_{c}", c) for c in channels],
        "variant string, removed string",
    ).coalesce(1)
    # everything from here on operates on grids BOUNDED BY
    # CONSTRUCTION (<= variants x states^2 rows, independent of corpus
    # size), so the session's data-sized shuffle parallelism is pure
    # per-round scheduler overhead at ANY scale: scope these stages'
    # shuffles to one partition (session.scoped_shuffle_partitions).
    # The lazy per-round pins of `v` stay inside the scope too: a lazy
    # localCheckpoint is planned at the call (under AQE it also runs
    # its shuffle stages then), so only each pin's final compute is
    # deferred, with its partition count already fixed at one
    from ..session import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark, 1):
        vt = (
            counts.crossJoin(F.broadcast(variants))
            .filter(
                F.col("removed").isNull() | (F.col("src") != F.col("removed"))
            )
            .select(
                "variant",
                "src",
                F.when(
                    F.col("removed").isNotNull()
                    & (F.col("dst") == F.col("removed")),
                    F.lit("END"),
                )
                .otherwise(F.col("dst"))
                .alias("dst"),
                "c",
            )
            .groupBy("variant", "src", "dst")
            .agg(F.sum("c").alias("c"))
        )
        tot = vt.groupBy("variant", "src").agg(F.sum("c").alias("tot"))
        p = (
            vt.join(tot, ["variant", "src"])
            .select(
                "variant",
                "src",
                "dst",
                F.expr("CAST(c * 1000000000 div tot AS BIGINT)").alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        NANO = 1_000_000_000
        # literal (variant, state, v) rows built driver-side: a crossJoin
        # of two literal frames re-executes its broadcast in EVERY
        # iteration round (~8s each of pure broadcast setup at local
        # scale); a plain literal frame costs nothing
        variant_names = ["base"] + [f"no_{c}" for c in channels]
        per_variant_absorbing = spark.createDataFrame(
            [
                (vn, st, val)
                for vn in variant_names
                for st, val in ((conv_state, NANO), ("END", 0))
            ],
            "variant string, state string, v long",
        ).localCheckpoint(eager=True)
        v = per_variant_absorbing
        for _ in range(iterations):
            stepped = (
                p.join(
                    v.withColumnRenamed("state", "dst"),
                    ["variant", "dst"],
                )
                .groupBy("variant", "src")
                .agg(
                    F.expr(f"CAST(sum(p * v) div {NANO} AS BIGINT)").alias("v")
                )
                .select("variant", F.col("src").alias("state"), "v")
            )
            # absorbing states keep their fixed values in every variant;
            # pin each round LAZILY — v is consumed once per round, so
            # a lazy pin skips the eager pin's separate count job per
            # round; its shuffle stages still run at the call, inside
            # the scope (interleaved A/B at sf0.1: eager 6.04/7.06 vs
            # lazy 5.72/6.15 min/med, identical output)
            v = (
                stepped.filter(~F.col("state").isin(conv_state, "END"))
                .unionByName(per_variant_absorbing)
                .localCheckpoint(eager=False)
            )
    conv = v.filter(F.col("state") == "START").select(
        "variant", F.col("v").alias("conv_nano")
    )
    base = conv.filter(F.col("variant") == "base").select(
        F.col("conv_nano").alias("__b")
    )
    return conv.crossJoin(F.broadcast(base)).select(
        "variant",
        "conv_nano",
        F.expr(
            "CAST(CASE WHEN variant = 'base' THEN 0"
            " ELSE (__b - conv_nano) * 1000 div __b END AS BIGINT)"
        ).alias("removal_permille"),
    )


def kaplan_meier(
    durations: DataFrame,
    duration_col: str = "duration",
    event_col: str = "churned",
) -> DataFrame:
    """Kaplan-Meier survival estimator — the standard churn/retention
    curve under right-censoring: ``S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)``
    where ``d_i`` counts events (churns) AT duration ``t_i`` and
    ``n_i`` counts subjects still AT RISK (duration ≥ t_i); censored
    subjects (still active at observation end) leave the risk set
    without counting as events — the correction naive "percent
    retained" curves get wrong.

    Input: one row per subject: ``(duration, churned)`` with
    ``churned`` false meaning censored.  Output: one row per distinct
    EVENT time: ``(t, n_risk, n_events, n_censored, survival)``.

    Exactness/scale: the subject table collapses to ONE map-combined
    aggregate keyed by duration (d_i, c_i per t) — shuffle volume =
    #distinct durations, bounded by the observation window in days,
    not by subjects.  ``n_risk`` is a suffix sum and ``survival`` a
    cumulative product over that grid, and BOTH run as the
    range-partitioned two-pass prefix scan (operators/sort.
    ordered_prefix_scan) — no single-task global window even if the
    duration grid ever gets sub-day granularity (r6 verdict item #9).
    To keep the float product order-independent (a distributed float
    cumsum is not associative), each log factor is QUANTIZED to the
    1e-12 integer lattice first: ``Σ floor(ln(1−d/n)·1e12)`` is
    BIGINT-exact in any summation order, and
    ``exp(Σ/1e12)`` perturbs survival by < #steps·1e-12 relative —
    both engines evaluate the identical lattice, so gates hash-match.
    All counts BIGINT-exact.

    Portability caveat (ADVICE r7): the lattice identity assumes the
    JVM's ``Math.log`` and the oracle engine's ``ln`` agree to the
    last bit on the shared input (``1 - d/n`` IS bit-identical — IEEE
    division is exactly rounded; only the libm implementations can
    differ).  Both are faithfully-rounded implementations and agree
    on every value this operator has been run against, but a 1-ulp
    disagreement landing exactly on a ×1e12 floor boundary would flip
    one BIGINT term — "identical lattice" is an empirical contract,
    not a proof.  The downstream gate additionally rounds survival to
    1e-6, so a flipped terminal bit is observable only if the rounded
    survival sits on a .5 boundary.
    """
    from ..operators.sort import ordered_prefix_scan

    per_t = (
        durations.select(
            F.col(duration_col).cast("long").alias("t"),
            F.when(F.col(event_col), 1).otherwise(0).alias("__e"),
        )
        .filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(
            F.sum("__e").cast("long").alias("n_events"),
            F.sum(F.lit(1) - F.col("__e")).cast("long").alias("n_censored"),
        )
    )
    # suffix sum over the (bounded) duration grid: subjects at risk at
    # t = all with duration >= t — scanned over descending t via the
    # negated key (the scan orders ascending)
    at_risk = ordered_prefix_scan(
        per_t.select(
            "*",
            (-F.col("t")).alias("__negt"),
            (F.col("n_events") + F.col("n_censored")).alias("__all"),
        ),
        ["__negt"],
        "__all",
        out_col="n_risk",
    ).drop("__negt", "__all")
    # a step where EVERYONE at risk churns (d == n) makes the factor
    # exactly 0 — engines disagree on ln(0) (Spark NULL, not -inf), so
    # zero factors are masked out of the log sum and tracked with a
    # flag whose running SUM (>= 1 <=> a full-churn step has passed)
    # pins survival to exactly 0.0 from that step on
    full_churn = F.when(
        F.col("n_events") == F.col("n_risk"), F.lit(1).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    log_term_q = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.floor(
            F.log(
                F.lit(1.0)
                - F.col("n_events").cast("double")
                / F.col("n_risk").cast("double")
            )
            * F.lit(1e12)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    scanned = ordered_prefix_scan(
        at_risk.select(
            "*", full_churn.alias("__fc"), log_term_q.alias("__ltq")
        ),
        ["t"],
        ["__fc", "__ltq"],
        out_col=["__zf", "__lsq"],
    )
    surv = scanned.withColumn(
        "survival",
        F.when(F.col("__zf") >= 1, F.lit(0.0)).otherwise(
            F.exp(F.col("__lsq").cast("double") / F.lit(1e12))
        ),
    )
    return surv.filter(F.col("n_events") > 0).select(
        "t", "n_risk", "n_events", "n_censored", "survival"
    )


def rolling_corr_daily(
    events: DataFrame,
    type_x: str,
    type_y: str,
    window_days: int = 7,
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Trailing rolling Pearson correlation between two event types\'
    DAILY revenue series — the co-movement screen a monitoring
    pipeline runs to catch a metric pair decoupling (clicks keep
    rising while purchases stall).

    The raw events reduce DISTRIBUTED to the bounded day grid first
    (one shuffle, map-side partial sums), then the grid densifies to
    EVERY calendar day between the first and last observed day
    (sequence + explode on the 1-row bounds — a day with no events,
    or only one of the two types, contributes 0: the decoupling
    signal this screen exists for is "one series stalls to zero",
    which a sparse observed-days spine would silently drop —
    round-11 review finding).  The trailing ``window_days``-row frame
    slides over that dense grid: bounded BY CONSTRUCTION (the
    data\'s time span, never its row count — SCALING.md plain-window
    rule), so at 100 TB the window\'s input is unchanged while the
    aggregate absorbs the volume.

    Exactness / portability: the six frame sums (n, Σx, Σy, Σx²,
    Σy², Σxy) are BIGINT on the cent grid; the correlation closes as
    ``corr_milli = floor(1000·(num / sqrt(dx·dy)) + 0.5)`` with
    ``num = n·Σxy − Σx·Σy`` exact int64, ``dx·dy`` multiplied in
    DOUBLE (the product can pass int64; double multiply/sqrt/divide
    are correctly-rounded IEEE with the association stated
    identically in the SQL oracle).  Zero-variance frames (either
    series constant) emit NULL.  Magnitude contract: per-day cent
    sums and the int64 moment bound (n·Σxy < 2⁶³) are the caller\'s
    grid choice, same as profile_moments.

    Output: ``(day, n_win, x_cents, y_cents, corr_milli)`` — one row
    per day in the grid, ``n_win`` the frame\'s actual row count
    (< window_days during warm-up).
    """
    if window_days < 2:
        raise ValueError("window_days must be >= 2")
    from pyspark.sql.window import Window

    ev = events.filter(
        F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(type_col).isin([type_x, type_y])
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    observed = ev.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col(type_col) == type_x, cents)), F.lit(0)
        ).cast("long").alias("x"),
        F.coalesce(
            F.sum(F.when(F.col(type_col) == type_y, cents)), F.lit(0)
        ).cast("long").alias("y"),
    )
    spine = observed.agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    ).select(
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day")
    )
    daily = spine.join(observed, "day", "left").select(
        "day",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    framed = daily.select(
        "day",
        F.col("x").alias("x_cents"),
        F.col("y").alias("y_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_win"),
        F.sum("x").over(w).cast("long").alias("__sx"),
        F.sum("y").over(w).cast("long").alias("__sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("__sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("__syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("__sxy"),
    )
    num = F.col("n_win") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    dx = F.col("n_win") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    dy = F.col("n_win") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    corr = F.when(
        (dx > 0) & (dy > 0),
        F.floor(
            F.lit(1000.0)
            * (
                num.cast("double")
                / F.sqrt(dx.cast("double") * dy.cast("double"))
            )
            + F.lit(0.5)
        ).cast("long"),
    )
    return framed.select(
        "day", "n_win", "x_cents", "y_cents", corr.alias("corr_milli")
    )


def token_bucket_per_key(
    df: DataFrame,
    capacity: int,
    refill_us: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key token-bucket rate limiting as an ORDERED integer fold —
    the replayable admission-control decision (API throttling, abuse
    screens, crawler politeness) evaluated deterministically over a
    historical event log: a bucket holds ``capacity`` tokens, refills
    one token per ``refill_us`` microseconds, starts FULL at the
    key\'s first event, and each event costs one token (accepted iff
    a token is available; rejected events consume nothing).

    Division-free exactness trick: tokens are measured in
    TIME-CREDITS (1 credit per microsecond), so capacity =
    ``capacity·refill_us`` credits, each event costs ``refill_us``
    credits, and the refill between events is the raw ``Δt_us`` — the
    whole recurrence is add/subtract/least/compare on int64, no
    floor-division inside the fold, bit-identical in any engine
    (DuckDB: ``list_reduce`` over a struct list with the seed
    prepended).

    Like :func:`ewma_per_key`, the recurrence is neither associative
    nor commutative, so each key\'s ordered history assembles in one
    place (collect_list → array_sort → aggregate); per-key state is
    the key\'s event count, the same constraint any stateful stream
    limiter has — segment-fold with carried (tok, last) checkpoints
    if a single key\'s history outgrows an executor.

    Output: ``(key, n_events, n_accepted, tok_credits)`` —
    ``tok_credits`` the final bucket level (depends on every step, so
    it witnesses the whole fold in the value hash).
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if refill_us < 1:
        raise ValueError("refill_us must be >= 1")
    cap_credits = int(capacity) * int(refill_us)
    cost = int(refill_us)
    s = df.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("us"),
            F.col(id_col).alias("id"),
        ).alias("s"),
    )
    per = s.groupBy("k").agg(
        F.array_sort(F.collect_list("s")).alias("seq")
    )
    init = F.struct(
        F.lit(cap_credits - cost).cast("long").alias("tok"),
        F.element_at(F.col("seq"), 1)["us"].alias("last"),
        F.lit(1).cast("long").alias("n"),
    )
    rest = F.slice(
        F.col("seq"), 2, F.greatest(F.size("seq") - 1, F.lit(0))
    )

    def step(acc, e):
        refreshed = F.least(
            F.lit(cap_credits).cast("long"),
            acc["tok"] + (e["us"] - acc["last"]),
        )
        return F.when(
            refreshed >= F.lit(cost),
            F.struct(
                (refreshed - F.lit(cost)).alias("tok"),
                e["us"].alias("last"),
                (acc["n"] + F.lit(1)).alias("n"),
            ),
        ).otherwise(
            F.struct(
                refreshed.alias("tok"),
                e["us"].alias("last"),
                acc["n"].alias("n"),
            )
        )

    fold = F.aggregate(rest, init, step)
    return per.select(
        F.col("k").alias(key_col),
        F.size("seq").cast("long").alias("n_events"),
        fold["n"].cast("long").alias("n_accepted"),
        fold["tok"].cast("long").alias("tok_credits"),
    )


def interpolate_hourly(
    events: DataFrame,
    event_type: str = "purchase",
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Linear gap-fill of an event type's HOURLY revenue series — the
    sensor/metric repair step a monitoring pipeline runs before any
    window or forecast op that assumes a dense series (a missing hour
    is "no reading", not "zero revenue", so zero-fill — the
    rolling_corr_daily choice — would be wrong here; the two
    operators exist for the two different missingness semantics).

    Scale shape: the raw events reduce DISTRIBUTED to the bounded
    hour grid first (ONE shuffle with map-side partial sums); the
    spine densifies min..max observed hour (sequence + explode on the
    1-row bounds), so every downstream window runs over a frame
    bounded BY CONSTRUCTION by the calendar span (<= 721 rows at the
    gate's 30-day window), never by data volume — at 100 TB the
    aggregate absorbs the rows, the grid is unchanged.

    Exactness: hour sums are cents BIGINT; a gap hour at spine index
    ``i`` between its nearest observed neighbours ``(ip, vp)`` /
    ``(in, vn)`` fills with the exact integer-lattice interpolation
    ``floor((vp*(in - i) + vn*(i - ip)) / (in - ip))`` computed as
    subtract-mod-then-divide on nonnegative int64 (numerator
    < 2^53 under the documented magnitude contract: per-hour cent
    sums x calendar span), so the fill is bit-identical in any
    engine — no float in the lattice path.  Spine boundaries are
    observed by construction, so every gap has both neighbours.

    Output: ``(hour, is_observed, val_cents)`` — one row per spine
    hour; ``val_cents`` is the observed sum on observed hours, the
    interpolated fill otherwise.
    """
    from pyspark.sql.window import Window

    ev = events.filter(
        F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & (F.col(type_col) == event_type)
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    obs = ev.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("hour")
    ).agg(F.sum(cents).cast("long").alias("v"))
    spine = obs.agg(
        F.min("hour").alias("__lo"), F.max("hour").alias("__hi")
    ).select(
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 HOUR")
            )
        ).alias("hour")
    )
    w_idx = Window.orderBy("hour")
    grid = (
        spine.join(obs, "hour", "left")
        .select(
            "hour",
            F.row_number().over(w_idx).cast("long").alias("__i"),
            F.col("v"),
        )
    )
    w_back = Window.orderBy("__i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_fwd = Window.orderBy("__i").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_i = F.when(F.col("v").isNotNull(), F.col("__i"))
    filled = grid.select(
        "hour",
        "__i",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("__vp"),
        F.last(obs_i, ignorenulls=True).over(w_back).alias("__ip"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("__vn"),
        F.first(obs_i, ignorenulls=True).over(w_fwd).alias("__in"),
    )
    num = F.col("__vp") * (F.col("__in") - F.col("__i")) + F.col(
        "__vn"
    ) * (F.col("__i") - F.col("__ip"))
    # NULL-guard the gap span: on OBSERVED rows it is 0 and the fill
    # branch is dead (coalesce picks v) — but ANSI mode (the driver
    # default) makes `% 0` a runtime error, so the guard must be in
    # the expression, not the control flow.
    den = F.when(
        F.col("__in") > F.col("__ip"), F.col("__in") - F.col("__ip")
    )
    # pmod, not `%`: subtract-pmod is TRUE floor division for
    # negative numerators too (refund-heavy hours can sum negative),
    # keeping the fill on the documented floor lattice; the oracle
    # states ((num % den) + den) % den identically (round-11
    # session-2 review finding)
    fill = F.floor((num - F.pmod(num, den)) / den).cast("long")
    return filled.select(
        "hour",
        F.col("v").isNotNull().alias("is_observed"),
        F.coalesce(F.col("v"), fill).cast("long").alias("val_cents"),
    )


def acf_daily(
    events: DataFrame,
    event_type: str = "purchase",
    max_lag: int = 7,
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Sample autocorrelation of an event type's DAILY revenue series
    at lags 1..max_lag — the seasonality detector (a weekly cycle
    shows as a lag-7 peak) run before choosing a forecast model or a
    week-over-week comparison window.

    Per-lag ACF here is the Pearson correlation of the lagged pair
    series ``(x_t, x_{t-k})`` over their overlap (the "correlogram
    of lagged pairs" variant — each lag re-centres on its own
    overlap means, exact on the integer lattice, rather than the
    full-series-mean normalisation whose ratios are irrational).

    Scale shape: events reduce DISTRIBUTED to the bounded day grid
    (ONE shuffle, map-side partials), densified to every calendar
    day (a no-sales day is a real zero for revenue — zero-fill, the
    rolling_corr_daily semantics); the ``max_lag`` lag columns come
    from ONE window pass over that <= span-row grid (bounded BY
    CONSTRUCTION), stacked and closed with a tiny group-by-lag
    aggregate.  At 100 TB only the first reduce sees the volume.

    Exactness: all five pair sums (n, Sx, Sy, Sxx, Syy, Sxy) are
    BIGINT on the cent grid (magnitude contract: n*Sxy < 2^63 is the
    caller's grid choice, as profile_moments); the close is
    ``floor(1000*(num/sqrt(dx*dy)) + 0.5)`` with num exact int64 and
    dx*dy multiplied in DOUBLE — the association stated identically
    in the oracle.  Zero-variance overlaps emit NULL.

    Output: ``(lag, n_pairs, acf_milli)`` — one row per lag 1..max_lag
    with at least one overlapping pair.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    from pyspark.sql.window import Window

    ev = events.filter(
        F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & (F.col(type_col) == event_type)
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    obs = ev.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(F.sum(cents).cast("long").alias("x"))
    spine = obs.agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    ).select(
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day")
    )
    dense = spine.join(obs, "day", "left").select(
        "day", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    w = Window.orderBy("day")
    lag_cols = [
        F.lag("x", k).over(w).alias(f"__l{k}")
        for k in range(1, max_lag + 1)
    ]
    lagged = dense.select("x", *lag_cols)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), __l{k}" for k in range(1, max_lag + 1)
    )
    pairs = lagged.select(
        "x",
        F.expr(
            f"stack({max_lag}, {stack_args}) AS (lag, y)"
        ),
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("__sx"),
        F.sum("y").cast("long").alias("__sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("__sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("__syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("__sxy"),
    )
    n = F.col("n_pairs")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    dx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    dy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    acf = F.when(
        (dx > 0) & (dy > 0),
        F.floor(
            F.lit(1000.0)
            * (
                num.cast("double")
                / F.sqrt(dx.cast("double") * dy.cast("double"))
            )
            + F.lit(0.5)
        ).cast("long"),
    )
    return s.select("lag", "n_pairs", acf.alias("acf_milli"))


def burst_segments_per_key(
    df: DataFrame,
    enter_us: int,
    exit_us: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Two-threshold (hysteresis) burst segmentation per key — the
    activity-burst detector that single-threshold sessionization
    cannot express: a burst OPENS when the inter-event gap drops to
    <= ``enter_us`` and CLOSES only when a gap reaches >= ``exit_us``
    (``enter_us < exit_us``); gaps between the thresholds are sticky
    (they neither open nor close), which is exactly what kills the
    flapping a single cutoff produces on bursty-with-jitter traffic
    (abuse detection, incident clustering, crawl-rate forensics).

    The recurrence is an ordered integer fold over each key's gap
    sequence (state, n_bursts, n_burst_events — all int64
    add/compare, no division), the :func:`token_bucket_per_key`
    machinery: collect_list → array_sort → aggregate, per-key state
    bounded by the key's history.  The key's FIRST event is never in
    a burst (a burst is evidence of a small gap, and the first event
    has none).  Engine-portable: the oracle bit-packs the state
    triple into one BIGINT and folds the same deltas with a scalar
    ``list_reduce`` (the DuckDB struct-accumulator hazard,
    SCALING.md round-11).

    Output: ``(key, n_events, n_bursts, n_burst_events)`` — burst
    events count the events that ENTERED or CONTINUED a burst.
    """
    if enter_us < 1 or exit_us <= enter_us:
        raise ValueError("need 1 <= enter_us < exit_us")
    s = df.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("us"),
            F.col(id_col).alias("id"),
        ).alias("s"),
    )
    per = s.groupBy("k").agg(
        F.array_sort(F.collect_list("s")).alias("seq")
    )
    init = F.struct(
        F.lit(0).cast("long").alias("st"),
        F.lit(0).cast("long").alias("nb"),
        F.lit(0).cast("long").alias("ne"),
        F.element_at(F.col("seq"), 1)["us"].alias("last"),
    )
    rest = F.slice(
        F.col("seq"), 2, F.greatest(F.size("seq") - 1, F.lit(0))
    )
    lo, hi = F.lit(int(enter_us)), F.lit(int(exit_us))

    def step(acc, e):
        d = e["us"] - acc["last"]
        return (
            F.when(
                (acc["st"] == 0) & (d <= lo),
                F.struct(
                    F.lit(1).cast("long").alias("st"),
                    (acc["nb"] + 1).alias("nb"),
                    (acc["ne"] + 1).alias("ne"),
                    e["us"].alias("last"),
                ),
            )
            .when(
                (acc["st"] == 1) & (d < hi),
                F.struct(
                    acc["st"].alias("st"),
                    acc["nb"].alias("nb"),
                    (acc["ne"] + 1).alias("ne"),
                    e["us"].alias("last"),
                ),
            )
            .otherwise(
                F.struct(
                    F.lit(0).cast("long").alias("st"),
                    acc["nb"].alias("nb"),
                    acc["ne"].alias("ne"),
                    e["us"].alias("last"),
                )
            )
        )

    fold = F.aggregate(rest, init, step)
    return per.select(
        F.col("k").alias(key_col),
        F.size("seq").cast("long").alias("n_events"),
        fold["nb"].cast("long").alias("n_bursts"),
        fold["ne"].cast("long").alias("n_burst_events"),
    )


def pattern_match_per_key(
    df: DataFrame,
    anchor_type: str = "click",
    accept_type: str = "purchase",
    wildcard_type: str = "view",
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequential pattern matching per key — the SQL-2016
    MATCH_RECOGNIZE surface Spark lacks, for the pattern
    ``anchor (wildcard)* accept`` with AFTER MATCH SKIP PAST LAST
    ROW semantics (non-overlapping matches, the MATCH_RECOGNIZE
    default): a conversion completes when an ``anchor`` event is
    followed by an ``accept`` with only ``wildcard`` events between;
    any OTHER event type breaks the pending pattern; a fresh
    ``anchor`` re-anchors it.

    The recurrence is a two-state automaton folded over each key's
    type-code sequence — the :func:`burst_segments_per_key` /
    token-bucket machinery (collect_list → array_sort → integer
    fold), inherently sequential per key, per-key state bounded by
    the key's history.  Engine-portable: the oracle packs
    (n_matches, state) into one BIGINT and folds the same codes with
    a scalar ``list_reduce``.

    Output: ``(key, n_events, n_matches, pending)`` — ``pending``
    TRUE iff the stream ends with an un-accepted anchor.
    """
    code = (
        F.when(F.col(type_col) == anchor_type, 1)
        .when(F.col(type_col) == accept_type, 2)
        .when(F.col(type_col) == wildcard_type, 3)
        .otherwise(0)
        .cast("long")
    )
    s = df.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("us"),
            F.col(id_col).alias("id"),
            code.alias("c"),
        ).alias("s"),
    )
    per = s.groupBy("k").agg(
        F.array_sort(F.collect_list("s")).alias("seq")
    )
    codes = F.transform(F.col("seq"), lambda x: x["c"])
    init = F.struct(
        F.lit(0).cast("long").alias("st"),
        F.lit(0).cast("long").alias("n"),
    )

    def step(acc, c):
        return (
            F.when(
                c == 1,
                F.struct(
                    F.lit(1).cast("long").alias("st"), acc["n"].alias("n")
                ),
            )
            .when(
                (c == 2) & (acc["st"] == 1),
                F.struct(
                    F.lit(0).cast("long").alias("st"),
                    (acc["n"] + 1).alias("n"),
                ),
            )
            .when(c == 3, acc)
            .otherwise(
                F.struct(
                    F.lit(0).cast("long").alias("st"), acc["n"].alias("n")
                )
            )
        )

    fold = F.aggregate(codes, init, step)
    return per.select(
        F.col("k").alias(key_col),
        F.size("seq").cast("long").alias("n_events"),
        fold["n"].cast("long").alias("n_matches"),
        (fold["st"] == 1).alias("pending"),
    )
