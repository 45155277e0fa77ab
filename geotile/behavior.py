"""Behavioral analytics over the events stream: cohort retention and
ordered funnels.

The reference engine's event surface stops at per-cell position logs
(GeoHash/common.h posting lists); a web-scale engine also answers the
standard product-analytics questions asked of the SAME event table the
spatial operators index.  Both operators here are integer-exact
(unix-second epochs, integer bucket arithmetic, distinct-user counts)
so they sit under the exact SQL oracle gate (q76/q77).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cohort_retention(events: DataFrame, bucket_s: int = 86400,
                     ts_col: str = "ep", user_col: str = "user_id") -> DataFrame:
    """Cohort retention matrix: assign each user to the bucket of their
    FIRST activity (the cohort), then count distinct active users per
    (cohort, offset) where offset = activity bucket - cohort bucket.
    ``ts_col`` is integer epoch seconds; buckets are ``ts DIV
    bucket_s`` (days by default).

    Scale shape: one (user, bucket) distinct — the partial aggregate
    collapses each user's events map-side — then a broadcast-sized
    first-bucket table joins back (users << events after the
    distinct), and one final (cohort, offset) count.  No windows, no
    skew beyond the hottest cohort-day pair."""
    ub = F.expr(f"{ts_col} DIV {bucket_s}").alias("bucket")
    act = events.select(F.col(user_col).alias("user"), ub).distinct()
    first = act.groupBy("user").agg(F.min("bucket").alias("cohort"))
    return (act.join(first, "user")
            .groupBy("cohort", (F.col("bucket") - F.col("cohort")).alias("offset"))
            .agg(F.count("*").alias("n_users")))


def funnel(events: DataFrame, steps: Sequence[str], ts_col: str = "ep",
           user_col: str = "user_id", type_col: str = "event_type") -> DataFrame:
    """Ordered funnel: how many users performed ``steps[0]``, then
    ``steps[1]`` STRICTLY AFTER their first ``steps[0]``, then
    ``steps[2]`` strictly after that first qualifying ``steps[1]``,
    and so on (first-touch semantics — the standard product funnel).
    Returns one row per step: ``(step_idx, step, n_users)``.

    Scale shape: per step, one filtered aggregate to each user's
    earliest qualifying timestamp plus an equi-join against the
    previous step's (shrinking) reached set — len(steps) passes, each
    filtered to ONE event type before its shuffle.  The counts union
    into a single plan, so the whole funnel is one action."""
    reached = (events.where(F.col(type_col) == steps[0])
               .groupBy(F.col(user_col).alias("user"))
               .agg(F.min(ts_col).alias("t")))
    frames = [reached]
    for s in steps[1:]:
        prev = frames[-1].select("user", F.col("t").alias("_pt"))
        frames.append(
            events.where(F.col(type_col) == s)
            .select(F.col(user_col).alias("user"), F.col(ts_col).alias("t"))
            .join(prev, "user")
            .where(F.col("t") > F.col("_pt"))
            .groupBy("user").agg(F.min("t").alias("t")))
    counts = [f.agg(F.count("*").alias("n_users"))
              .select(F.lit(i + 1).alias("step_idx"), F.lit(s).alias("step"),
                      "n_users")
              for i, (s, f) in enumerate(zip(steps, frames))]
    out = reduce(DataFrame.unionByName, counts)
    return out


def time_weighted_avg(events: DataFrame, val_col: str = "value",
                      ts_col: str = "ep", key_col: str = "user_id",
                      order_col: str = "event_id",
                      scale: int = 1000) -> DataFrame:
    """Trapezoidal time-weighted average of an irregularly sampled
    value stream per key: ``twa = sum((v_i + v_{i-1}) * dt_i) / (2 *
    span)`` — the correct mean of a step-interpolated signal, where the
    plain AVG over-weights burst periods.  Values snap once to integer
    ``scale``-units (``floor(v * scale)``); every downstream operand —
    trapezoid numerators, the final floor division — is exact int64,
    so the result is cross-engine exact with NO float accumulation.

    The milli default bounds the sum: v_milli < 1e6, dt < 3e6 s and
    ~1e3 segments/key keep the per-key numerator < 1e16 under ANSI
    overflow checks.  Values must be non-negative (integer DIV is
    truncation, not floor, for negative operands — documented, not
    hidden).  Keys with a zero time span (single fix or all-equal
    timestamps) are dropped rather than emitted as NULL/sentinel.

    Scale shape: ONE per-key window shuffle (lag) + one per-key
    aggregate that partial-aggregates map-side; all native."""
    v = F.floor(F.col(val_col) * F.lit(float(scale))).cast("long")
    w = Window.partitionBy(key_col).orderBy(F.col("_t").asc(),
                                            F.col(order_col).asc())
    d = (events.select(F.col(key_col), F.col(ts_col).cast("long").alias("_t"),
                       F.col(order_col), v.alias("_v"))
         .withColumn("_pv", F.lag("_v").over(w))
         .withColumn("_pt", F.lag("_t").over(w)))
    seg = F.when(F.col("_pv").isNotNull(),
                 (F.col("_v") + F.col("_pv")) * (F.col("_t") - F.col("_pt"))
                 ).otherwise(F.lit(0)).cast("long")
    agg = (d.groupBy(key_col)
           .agg(F.count("*").alias("n_fixes"),
                (F.max("_t") - F.min("_t")).alias("span_s"),
                F.sum(seg).alias("_num")))
    return (agg.where(F.col("span_s") > 0)
            .select(key_col, "n_fixes", "span_s",
                    F.expr("_num DIV (2 * span_s)").alias("twa_milli")))


def event_type_lift(events: DataFrame, user_col: str = "user_id",
                    type_col: str = "event_type") -> DataFrame:
    """Association lift between event types (market-basket over the
    event stream): for every type pair, how many users did BOTH, the
    exact micro support ``n_ab * 1e6 DIV N``, and the exact micro lift
    ``(n_ab * N * 1e6) DIV (n_a * n_b)`` — lift > 1e6 means the types
    co-occur more than independence predicts (the cross-sell / funnel
    prior).  Integer throughout (bounds: n_ab, N <= users; the triple
    product stays far inside int64 for any realistic type cardinality).

    Scale shape: one (user, type) DISTINCT collapse (the q76
    discipline — the event stream never joins itself), then the pair
    join runs on the collapsed frame keyed by user with fan-out
    bounded by the TYPE cardinality squared; per-type totals
    broadcast."""
    ut = (events.select(F.col(user_col).alias("u"),
                        F.col(type_col).alias("t"))
          .distinct().persist())
    n_users = ut.select("u").distinct().count()
    nt = ut.groupBy("t").agg(F.count("*").alias("n_t"))
    l = ut.select("u", F.col("t").alias("ta"))
    r = ut.select(F.col("u").alias("u2"), F.col("t").alias("tb"))
    pairs = (l.join(r, (F.col("u") == F.col("u2"))
                    & (F.col("ta") < F.col("tb")))
             .groupBy("ta", "tb").agg(F.count("*").alias("n_ab")))
    na = nt.select(F.col("t").alias("ta"), F.col("n_t").alias("n_a"))
    nb = nt.select(F.col("t").alias("tb"), F.col("n_t").alias("n_b"))
    out = (pairs.join(F.broadcast(na), "ta").join(F.broadcast(nb), "tb")
           .select("ta", "tb", "n_ab", "n_a", "n_b",
                   F.expr(f"n_ab * 1000000 DIV {n_users}")
                   .alias("support_micro"),
                   F.expr(f"(n_ab * {n_users} * 1000000) DIV (n_a * n_b)")
                   .alias("lift_micro")))
    from geotile.cache import track

    return track(out, [ut])


def rolling_active_users(events: DataFrame, window_days: int = 7,
                         ts_col: str = "ep",
                         user_col: str = "user_id") -> DataFrame:
    """Rolling N-day active users (the WAU/MAU product metric): for
    every day, the count of distinct users active within the trailing
    ``window_days`` window — EXACT, not a sliding approximation: the
    (user, day) distinct collapse explodes each active day into the
    window_days report days it supports, and one distinct count per
    report day finishes.  Report days cover only days with at least
    one supporting active day.

    Scale shape: the event stream collapses to (user, day) FIRST (the
    q76 discipline), so the window explode multiplies the collapsed
    frame by a CONSTANT (window_days), never the events; the final
    distinct count shuffles (day, user) pairs once.  Returns
    ``(day, n_active)``."""
    ud = (events.select(F.col(user_col).alias("u"),
                        F.expr(f"{ts_col} DIV 86400").alias("d"))
          .distinct())
    spread = ud.select(
        "u", F.explode(F.sequence(F.col("d"),
                                  F.col("d") + (window_days - 1)))
        .alias("day"))
    return (spread.groupBy("day")
            .agg(F.countDistinct("u").alias("n_active")))


def lateness_audit(events: DataFrame, user_col: str = "user_id",
                   ts_col: str = "ep",
                   arrival_col: str = "event_id") -> DataFrame:
    """Out-of-order-arrival audit — the measured input to every
    watermark decision ("withWatermark('30 minutes')" should come from
    THIS table, not folklore): per key, how many events arrived with
    an event time EARLIER than one already seen (arrival order =
    ``arrival_col``), the worst regression in seconds, and the exact
    p99 lateness (low-rank pick over the late events — an actual data
    value, the q164 discipline).  Keys with no late events report
    zeros, never NULL.

    One per-key window (running max over arrival order) + one
    aggregate + one low-rank window over the LATE subset.  Returns
    ``(key, n_events, n_late, max_late_s, p99_late_s)``."""
    w = (Window.partitionBy(user_col).orderBy(F.col(arrival_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    d = (events.select(F.col(user_col), F.col(ts_col).alias("_t"),
                       F.col(arrival_col))
         .withColumn("_rm", F.max("_t").over(w))
         .withColumn("late",
                     F.greatest(F.coalesce(F.col("_rm") - F.col("_t"),
                                           F.lit(0)), F.lit(0))
                     .cast("long")))
    base = (d.groupBy(user_col)
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.when(F.col("late") > 0, 1).otherwise(0))
                 .cast("long").alias("n_late"),
                 F.max("late").alias("max_late_s")))
    lt = d.where(F.col("late") > 0)
    wp = Window.partitionBy(user_col).orderBy(F.col("late").asc(),
                                              F.col(arrival_col).asc())
    ranked = (lt.withColumn("_rn", F.row_number().over(wp))
              .withColumn("_n", F.count("*")
                          .over(Window.partitionBy(user_col))))
    p99 = (ranked.where(F.col("_rn") == F.expr("(_n * 99 + 99) DIV 100"))
           .select(F.col(user_col), F.col("late").alias("p99_late_s")))
    return (base.join(p99, user_col, "left")
            .select(user_col, "n_events", "n_late", "max_late_s",
                    F.coalesce("p99_late_s", F.lit(0)).cast("long")
                    .alias("p99_late_s")))


def stickiness(events: DataFrame, window_days: int = 7,
               ts_col: str = "ep", user_col: str = "user_id") -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product teams
    track (what share of the weekly actives showed up today), exact:
    daily actives from the (user, day) distinct collapse, rolling
    actives from :func:`rolling_active_users`, one inner join on the
    days with activity, ``stick_micro = dau * 1e6 DIV wau``.  Returns
    ``(day, dau, wau, stickiness_micro)``."""
    ud = (events.select(F.col(user_col).alias("u"),
                        F.expr(f"{ts_col} DIV 86400").alias("day"))
          .distinct().persist())
    dau = ud.groupBy("day").agg(F.countDistinct("u").alias("dau"))
    spread = ud.select(
        "u", F.explode(F.sequence(F.col("day"),
                                  F.col("day") + (window_days - 1)))
        .alias("day"))
    wau = spread.groupBy("day").agg(F.countDistinct("u").alias("wau"))
    out = (dau.join(wau, "day")
           .select("day", "dau", "wau",
                   F.expr("dau * 1000000 DIV wau")
                   .alias("stickiness_micro")))
    from geotile.cache import track

    return track(out, [ud])


def time_decay_attribution(events: DataFrame, window_s: int = 86400,
                           bucket_s: int = 3600,
                           key: str = "user_id", ts: str = "ep",
                           view_type: str = "view",
                           buy_type: str = "purchase") -> DataFrame:
    """Time-decay MULTI-touch attribution — the model between q214's
    two single-touch extremes: every qualifying view inside the
    window shares the purchase's credit, weighted by recency with the
    industry-standard exponential half-life of one ``bucket_s``
    (weight halves per bucket of age).

    Exactness: a view aged ``a = (bts - vts) div bucket_s`` buckets
    (0 <= a < window_s/bucket_s) carries the exact BIGINT weight
    ``w = 2^(n_buckets - 1 - a)``; the per-purchase normalized share
    quantizes to ``share_micro = floor(1e6 * w / tot_w)`` in one
    fixed-shape double expression (w and tot_w fit far below 2^53).
    Emitted per age bucket: touch count, raw decayed credit mass, and
    the normalized share mass — the decay curve the gate compares as
    integers.

    Scale shape: one filtered view/purchase range join keyed on the
    user (the q214 join), one per-purchase total aggregate joined
    back broadcast-small, one bounded (n_buckets-row) rollup."""
    nb = int(window_s // bucket_s)
    views = (events.where(F.col("event_type") == view_type)
             .select(F.col(key).alias("u"), F.col(ts).alias("vts")))
    buys = (events.where(F.col("event_type") == buy_type)
            .select(F.col(key).alias("bu"), F.col(ts).alias("bts"),
                    F.col("event_id").alias("bid")))
    j = (buys.join(views, (buys["bu"] == views["u"])
                   & (views["vts"] <= buys["bts"])
                   & (views["vts"] > buys["bts"] - window_s)))
    aged = j.select(
        "bid", F.expr(f"(bts - vts) div {bucket_s}").alias("age"))
    w = F.expr(f"shiftleft(cast(1 as bigint), "
               f"cast({nb - 1} - age as int))").cast("long")
    wt = aged.withColumn("w", w)
    tot = wt.groupBy("bid").agg(F.sum("w").alias("tot_w"))
    share = (wt.join(tot, "bid")
             .withColumn("share_micro",
                         F.floor(F.lit(1000000.0)
                                 * F.col("w").cast("double")
                                 / F.col("tot_w").cast("double"))
                         .cast("long")))
    return (share.groupBy("age")
            .agg(F.count("*").alias("n_touches"),
                 F.sum("w").alias("credit_sum"),
                 F.sum("share_micro").alias("share_micro_sum"))
            .withColumnRenamed("age", "age_bucket"))


def km_survival_table(events: DataFrame, ts_col: str = "ep",
                      user_col: str = "user_id") -> DataFrame:
    """Kaplan-Meier survival table for user churn — the survival-
    analysis primitive (retention's principled cousin): a user's
    lifetime is ``last_day - first_day``; the user CHURNED at that
    lifetime unless their last day is the observation horizon (the
    global max day), in which case they are right-CENSORED — the
    distinction naive churn counts get wrong, and the whole reason
    Kaplan-Meier exists.

    Emits the exact KM table: for every observed lifetime t,
    ``n_risk`` (users with lifetime >= t), ``n_deaths`` (churned at
    t), ``n_censored`` (censored at t).  The survival estimate is
    the running product of ``(n_risk - n_deaths) / n_risk`` — one
    multiply chain away from these integers; the gate pins the
    integers (a float product would be partial-order-dependent).

    Scale shape: one user-keyed aggregate collapses events to
    lifetimes; everything after runs on the lifetime-value-sized
    frame (one reverse-cumulative window).  Returns ``(t, n_risk,
    n_deaths, n_censored)``."""
    day = F.expr(f"{ts_col} DIV 86400")
    u = (events.select(F.col(user_col).alias("u"), day.alias("d"))
         .groupBy("u")
         .agg(F.min("d").alias("d0"), F.max("d").alias("d1")))
    horizon = u.agg(F.max("d1").alias("hz"))
    lt = (u.crossJoin(F.broadcast(horizon))
          .select((F.col("d1") - F.col("d0")).alias("t"),
                  (F.col("d1") == F.col("hz")).cast("long")
                  .alias("cens")))
    per_t = (lt.groupBy("t")
             .agg(F.sum(F.lit(1) - F.col("cens")).cast("long")
                  .alias("n_deaths"),
                  F.sum("cens").cast("long").alias("n_censored"),
                  F.count("*").alias("n_at")))
    w = (Window.orderBy(F.col("t").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    return (per_t.withColumn("n_risk",
                             F.sum("n_at").over(w).cast("long"))
            .select("t", "n_risk", "n_deaths", "n_censored"))
