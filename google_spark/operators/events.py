"""Interaction-log analytics: ordered funnel counts.

The reference stores raw per-user queries (SearchHistory, ref:
src/cis5550/jobs/SearchApi.java history route) and has no log analytics;
this is the product-analytics layer a real engine's event stream feeds.

Scale shape: ONE exchange. Events group by user with a map-side partial
``collect_list`` of fixed-width (ts, step-index) structs — per-user
state is bounded by that user's event count, and the fold below never
leaves the executor. The funnel stage each user reaches is computed by
a scan-side ``aggregate`` higher-order function over the time-sorted
struct array (greedy earliest-match: stage k counts only if an event of
step k occurs strictly after the matched event of step k-1 — the
standard ordered-funnel semantics), then three rows aggregate out.
No windows, no joins, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """DataFrame[step_no, step, users] — how many distinct users reached
    each funnel stage IN ORDER (e.g. view -> click -> purchase): a user
    counts for stage k when the log contains events of steps 1..k at
    strictly increasing timestamps (greedy earliest-match). Rows come
    back for every step, step_no ascending, so a step nobody reached
    still reports 0.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    dups = sorted({s for s in steps if steps.count(s) > 1})
    if dups:
        raise ValueError(f"duplicate step names: {dups}")
    spark = events.sparkSession
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    rows = (
        events.filter(F.col(type_col).isin(list(steps)))
        .filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("u"),
            F.struct(
                F.col(ts_col).cast("timestamp").alias("ts"),
                step_idx[F.col(type_col)].alias("si"),
            ).alias("ev"),
        )
    )
    # one exchange: per-user time-sorted event array (struct sort = ts,
    # then step index)
    per_user = rows.groupBy("u").agg(
        F.sort_array(F.collect_list("ev")).alias("evs")
    )
    # greedy fold over the sorted array: acc = (k = highest stage fully
    # matched, t = its timestamp); an event advances the funnel when it
    # IS the next step AND is STRICTLY later than the last matched event
    # (so two steps never share one instant) — the earliest qualifying
    # event per stage, i.e. exactly the oracle's min-ts > prev chain
    zero = F.struct(
        F.lit(0).alias("k"), F.lit(None).cast("timestamp").alias("t")
    )
    reached = per_user.select(
        F.aggregate(
            "evs",
            zero,
            lambda acc, e: F.when(
                (e["si"] == acc["k"])
                & ((acc["k"] == F.lit(0)) | (e["ts"] > acc["t"])),
                F.struct(
                    (acc["k"] + 1).alias("k"), e["ts"].alias("t")
                ),
            ).otherwise(acc),
        )["k"].alias("reached")
    )
    counts = reached.groupBy("reached").agg(F.count(F.lit(1)).alias("n"))
    steps_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(steps)], "step_no int, step string"
    )
    # users at stage k = users whose reached >= k+1 (suffix sum of the
    # tiny per-stage histogram — at most len(steps)+1 rows, broadcast)
    return (
        steps_df.join(
            counts, F.col("reached") > F.col("step_no"), "left"
        )
        .groupBy("step_no", "step")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("users"))
        .orderBy("step_no")
    )


def retention_counts(
    events: DataFrame,
    horizon_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DataFrame[cohort, day_offset, users] — classic retention triangle:
    users are cohorted by the DATE of their first event, and each row
    counts how many of a cohort's users were active ``day_offset`` days
    later (0 .. ``horizon_days``; day 0 is the cohort size). Rows exist
    only for (cohort, offset) pairs with activity.

    Scale shape: activity first collapses to distinct (user, date) —
    one hash-aggregate exchange on fixed-width keys that also bounds
    every later stage by users x active-days, not raw events; the
    cohort date is a per-user min over that relation (same keys); the
    join back is user-keyed; and because (user, date) is distinct, the
    final per-(cohort, offset) count is a plain count — no
    count-distinct expand.
    """
    ev = (
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(F.col(user_col).alias("u"), F.to_date(ts_col).alias("d"))
        .distinct()
    )
    first = ev.groupBy("u").agg(F.min("d").alias("cohort"))
    return (
        ev.join(first, "u")
        .withColumn("day_offset", F.datediff("d", "cohort"))
        .filter(F.col("day_offset") <= horizon_days)
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("cohort", "day_offset")
    )
