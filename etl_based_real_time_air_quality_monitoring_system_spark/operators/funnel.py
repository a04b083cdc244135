"""Event-sequence analytics: ordered funnels and retention cohorts.

The reference's dashboard counts events by type (dashboard.py:281) but
never relates events ACROSS time per user — the two operators every
event pipeline grows into:

- ``funnel_stages`` — ordered conversion funnel: a user reaches stage
  k iff they performed stage-k's event AFTER reaching stage k-1.
- ``retention_cohorts`` — cohort × week-offset activity matrix: users
  grouped by first-seen week, counted in each later week they return.

Both are single-shuffle plans: all per-user sequencing happens in ONE
(key)-partitioned pass (chained window minimums — each stage reuses
the same partitioning, so Catalyst plans one Exchange however many
stages the funnel has), then a tiny global aggregation.  Integer/
timestamp arithmetic only — exactly reproducible in any engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

#: seconds per week — cohort buckets are epoch-week integers, not
#: calendar weeks, so the bucketing is engine- and locale-neutral
WEEK_SECONDS = 7 * 24 * 3600


def funnel_stages(
    df: DataFrame,
    key: str,
    ts: str,
    stage_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Ordered-funnel completion counts: for each prefix of ``stages``,
    how many users completed it IN ORDER (a later stage only counts if
    its event is at-or-after the user's entry into the previous one).

    Chained conditional window-minimums over one (key) partitioning:
    ``t_0 = min(ts | stage_0)``, ``t_k = min(ts | stage_k, ts >=
    t_{k-1})`` — one shuffle total, then a global stage count.
    """
    out = df
    prev: Column | None = None
    w = Window.partitionBy(key)
    for i, stage in enumerate(stages):
        cond = F.col(stage_col) == stage
        if prev is not None:
            cond = cond & (F.col(ts) >= prev)
        out = out.withColumn(f"_t{i}", F.min(F.when(cond, F.col(ts))).over(w))
        prev = F.col(f"_t{i}")
    per_user = out.groupBy(key).agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(stages))]
    )
    counts = per_user.agg(
        *[
            F.count(f"_t{i}").alias(f"stage{i}_{stage}")
            for i, stage in enumerate(stages)
        ]
    )
    # long form: (stage_index, stage_name, users)
    from .reshape import unpivot  # local import to avoid a cycle at module load

    long = unpivot(
        counts, [], [f"stage{i}_{s}" for i, s in enumerate(stages)],
        var_name="stage", value_name="users",
    )
    return long


def retention_cohorts(
    df: DataFrame,
    key: str,
    ts: str,
) -> DataFrame:
    """Cohort retention matrix in long form: (cohort_week, week_offset,
    active_users) where ``cohort_week`` is the epoch-week of the user's
    first event and ``week_offset`` counts whole weeks between first
    event and each activity.

    One window per key computes the first-seen time (single shuffle —
    the same partitioning the dashboard's per-user queries already
    use); the cohort rollup is a tiny aggregation over (cohort, offset)
    pairs.  Epoch-week integers, not calendar weeks: engine-neutral.
    """
    w = Window.partitionBy(key)
    first = F.min(F.col(ts)).over(w)
    marked = df.select(
        F.col(key),
        (F.floor(F.unix_timestamp(first) / WEEK_SECONDS)).alias("cohort_week"),
        (
            F.floor(
                (F.unix_timestamp(F.col(ts)) - F.unix_timestamp(first))
                / WEEK_SECONDS
            )
        ).alias("week_offset"),
    )
    return marked.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct(key).alias("active_users")
    )


def path_trigrams(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    tiebreak_col: str = "event_id",
    top_n: int = 20,
) -> DataFrame:
    """Journey mining: the ``top_n`` most common 3-step event-type
    sequences across all per-user streams (consecutive triples under
    the (ts, tiebreak) total order — deterministic even with tied
    timestamps).

    One user-keyed shuffle for BOTH lead windows (same partitioning —
    Catalyst plans a single Exchange), then a tiny (e1,e2,e3)
    aggregation with map-side combine and an exact TakeOrdered
    (count desc, then lexicographic — a total order).  The per-user
    state never leaves its partition; at 100 TB this is a wordcount
    over trigram keys.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    tri = df.select(
        F.col(event_col).alias("e1"),
        F.lead(event_col, 1).over(w).alias("e2"),
        F.lead(event_col, 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(top_n)
    )
