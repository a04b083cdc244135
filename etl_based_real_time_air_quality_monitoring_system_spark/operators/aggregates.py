"""Aggregation operators (SURVEY.md §2.4 A1-A11).

Every one is a hash aggregation Spark plans as
``HashAggregate(partial) -> Exchange -> HashAggregate(final)`` with
map-side combine — the right shape at 100 TB because only one
group-row per key per task crosses the shuffle.  AQE coalesces the
post-shuffle partitions (low-cardinality keys -> few final tasks).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def grouped_stats(
    df: DataFrame,
    key: str | Sequence[str],
    value: str,
    scale: int = 2,
) -> DataFrame:
    """A1 — per-key avg/min/max/count with 2-dp rounding + aliases
    (spark_processor.py:157-163)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(
        F.round(F.avg(value), scale).alias(f"avg_{value}"),
        F.round(F.min(value), scale).alias(f"min_{value}"),
        F.round(F.max(value), scale).alias(f"max_{value}"),
        F.count("*").alias("record_count"),
    )


def freq_distribution(df: DataFrame, key: Column | str, alias: str | None = None) -> DataFrame:
    """A2 — value frequency, most frequent first, key tie-break for a
    deterministic order (spark_processor.py:167-170)."""
    c = F.col(key) if isinstance(key, str) else key
    name = alias or (key if isinstance(key, str) else "key")
    out = df.groupBy(c.alias(name)).agg(F.count("*").alias("count"))
    return out.orderBy(F.desc("count"), F.col(name))


def global_means(df: DataFrame, columns: Sequence[str], scale: int = 2) -> DataFrame:
    """A3/A8 — grand averages of several columns in ONE pass
    (spark_processor.py:174-180; fixes the dashboard's per-column pandas
    loop, dashboard.py:129-132)."""
    return df.agg(
        *[F.round(F.avg(c), scale).alias(f"avg_{c}") for c in columns]
    )


def time_bucketed(
    df: DataFrame,
    ts: str,
    values: Sequence[str],
    bucket: str = "hour",
    scale: int = 2,
) -> DataFrame:
    """A4 — calendar-bucketed counts + averages, ordered by bucket
    (spark_processor.py:184-189).  ``bucket`` is any of
    year/month/day/hour; the streaming analog is a tumbling window
    (streaming.pipeline)."""
    part = {
        "year": F.year,
        "month": F.month,
        "day": F.dayofmonth,
        "hour": F.hour,
    }[bucket](F.col(ts))
    return (
        df.groupBy(part.alias(bucket))
        .agg(
            F.count("*").alias("record_count"),
            *[F.round(F.avg(v), scale).alias(f"avg_{v}") for v in values],
        )
        .orderBy(bucket)
    )


def multikey_summary(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    scale: int = 2,
    decimal_exact: bool = False,
) -> DataFrame:
    """A5 — the persisted summary table: count + rounded means per key
    pair (spark_processor.py:210-217).

    ``decimal_exact=True`` computes each mean as
    ``round(sum(cast(v as decimal(20,10)))::double / count, scale)``:
    the decimal sum is associative, so the reported value is
    independent of partial-aggregation merge order — required when the
    result must be bit-stable across runs/engines (a float ``avg``
    near a rounding boundary can flip with shuffle merge order).

    Rounding-direction caveat: the ``floor(x*10^s + 0.5)`` form rounds
    exact halves toward +infinity for NEGATIVE means too (-1.005 ->
    -1.00), whereas the reference's ``round(avg, 2)`` (Spark HALF_UP)
    rounds away from zero (-1.005 -> -1.01).  Spark and the oracle
    agree with each other by construction; only reference parity on a
    negative exact-half mean deviates, by one ulp of the last rounded
    digit.  Sign-aware half-up
    (``sign(x) * floor(abs(x)*10^s + 0.5) / 10^s``) restores it if
    ever required.
    """
    if decimal_exact:
        n = F.count("*")
        pow10 = float(10**scale)
        # floor(x*10^s + 0.5), not round(): an exact decimal sum makes
        # the quotient land EXACTLY on .xx5 halves, where Spark
        # (HALF_UP) and ANSI engines (HALF_EVEN) disagree; the floor
        # form is identical IEEE arithmetic everywhere
        means = [
            (
                F.floor(
                    (F.sum(F.col(v).cast("decimal(20,10)")).cast("double") / n)
                    * F.lit(pow10)
                    + F.lit(0.5)
                )
                / F.lit(pow10)
            ).alias(f"avg_{v}")
            for v in values
        ]
    else:
        means = [F.round(F.avg(v), scale).alias(f"avg_{v}") for v in values]
    return df.groupBy(*keys).agg(F.count("*").alias("record_count"), *means)


def count_distinct(df: DataFrame, column: str) -> DataFrame:
    """A7 — exact distinct count (dashboard.py:181).  At 100 TB prefer
    ``approx_count_distinct`` (HLL, no second shuffle) unless exactness
    is required."""
    return df.agg(F.countDistinct(column).alias(f"distinct_{column}"))


def range_aggregate(df: DataFrame, column: str) -> DataFrame:
    """A9 — max-min spread (dashboard.py:334) in one aggregate pass."""
    return df.agg(
        (F.max(column) - F.min(column)).alias(f"range_{column}"),
        F.max(column).alias(f"max_{column}"),
        F.min(column).alias(f"min_{column}"),
    )


def session_window_agg(
    df: DataFrame,
    key: str,
    ts: str,
    gap: str,
    aggs: Sequence[Column],
) -> DataFrame:
    """Native session-window aggregation (``F.session_window``): merges
    per-key event intervals ``[ts, ts+gap)`` that overlap OR touch, so
    a session ends ``gap`` after its last event.  Equivalent to the
    gap-based island SQL (lag-boundary + running sum — see
    windows.sessionize) but planned as ONE MergingSessionsExec pass:
    single shuffle on the key, sessions merged in sort order, no
    second window pass.

    Works identically on batch and Structured Streaming inputs (the
    streaming form needs a watermark on ``ts``).
    """
    sw = F.session_window(F.col(ts), gap).alias("session_window")
    agged = df.groupBy(sw, F.col(key)).agg(*aggs)
    return agged.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        F.col(key),
        *[c for c in agged.columns if c not in ("session_window", key)],
    )


def histogram(
    df: DataFrame, column: str, width: float, lo: float = 0.0
) -> DataFrame:
    """Fixed-width value histogram: bucket ordinal + row count + bucket
    lower bound.  Pure arithmetic bucketing (floor((x-lo)/width)) so the
    whole thing is ONE partial+final aggregation — no sort, no UDF, and
    the bucket math is bit-deterministic IEEE division in any engine."""
    bucket = F.floor((F.col(column) - F.lit(lo)) / F.lit(width)).cast("int")
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("record_count"))
        .withColumn("bucket_lo", F.lit(lo) + F.col("bucket") * F.lit(width))
    )


def zscore(
    df: DataFrame,
    key: str,
    value_col: str,
    alias: str = "z",
) -> DataFrame:
    """Per-key z-score normalization — the feature-scaling primitive:
    ``z = (x - mean_key) / stddev_key`` with the sample stddev.

    Cross-engine exactness is subtle here and each step is deliberate:
    (1) the only double->decimal cast is of the raw value at scale 6,
    which is exact for <= 6-decimal inputs; (2) the square happens IN
    integer micro-units (casting value*value would hit each engine's
    different double->decimal rounding; observed diverging at sf0.1);
    (3) every decimal->double collapse is from SCALE 0 — a scaled
    decimal collapses via int->double THEN /10^s in some engines
    (double rounding, observed 1-ulp sd drift at sf0.01), while a
    scale-0 decimal is one correctly-rounded int conversion
    everywhere; (4) all later ops (divide, sqrt, subtract) are
    correctly-rounded IEEE doubles applied in the same order.  Net:
    bit-identical z in any engine, no round() fudge.  One shuffle for
    the per-key stats, broadcast back onto the scan (at 100 TB the
    stats table is #keys-sized; widths below assume <= ~1e7 rows and
    |value| < 1e4 per key — widen for bigger keys).
    """
    v = F.col(value_col)
    iv = (v.cast("decimal(10,6)") * 1000000).cast("decimal(18,0)")
    stats = df.groupBy(key).agg(
        F.sum(iv).alias("_s_raw"),
        F.sum(iv * iv).alias("_ss_raw"),
        F.count("*").alias("_n"),
    )
    s_i = F.col("_s_raw").cast("decimal(15,0)")
    ssq_i = F.col("_ss_raw").cast("decimal(24,0)")
    n_dec = F.col("_n").cast("decimal(7,0)")
    num = (n_dec * ssq_i - s_i * s_i).cast("double")
    den = (F.col("_n") * (F.col("_n") - 1)).cast("double")
    stats = stats.select(
        key,
        (s_i.cast("double") / F.col("_n") / F.lit(1000000.0)).alias("_mean"),
        (F.sqrt(num / den) / F.lit(1000000.0)).alias("_sd"),
    )
    return df.join(F.broadcast(stats), key).withColumn(
        alias, (v - F.col("_mean")) / F.col("_sd")
    ).drop("_mean", "_sd")


def mad_outliers(
    df: DataFrame,
    key: str,
    value: str,
    k: float = 3.0,
    scale: int = 4,
) -> DataFrame:
    """Robust per-key outlier profile via median absolute deviation:
    a row is an outlier when ``|x - median| > k * MAD``.  The robust
    counterpart to :func:`zscore` — medians shrug off the very
    outliers a mean/stddev gate is skewed by.

    Two grouped exact-percentile aggregations (median, then MAD of the
    absolute deviations) broadcast back onto the rows — per-key medians
    are dimension-sized however big the fact table is, so both joins
    replicate tiny tables and the rows shuffle only for the final
    per-key count.  Exact interpolated percentiles (``percentile``)
    match ANSI ``quantile_cont`` bit-for-bit, keeping the whole
    pipeline oracle-checkable.
    """
    med = df.groupBy(key).agg(F.percentile(value, F.lit(0.5)).alias("_med"))
    with_dev = df.join(F.broadcast(med), key).withColumn(
        "_adev", F.abs(F.col(value) - F.col("_med"))
    )
    mad = with_dev.groupBy(key).agg(
        F.percentile("_adev", F.lit(0.5)).alias("_mad")
    )
    flagged = with_dev.join(F.broadcast(mad), key)
    return flagged.groupBy(key).agg(
        F.count("*").alias("record_count"),
        F.sum(
            (F.col("_adev") > F.lit(k) * F.col("_mad")).cast("long")
        ).alias("n_outliers"),
        F.round(F.max("_med"), scale).alias("median_value"),
        F.round(F.max("_mad"), scale).alias("mad_value"),
    )


def drift_bin_report(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
) -> DataFrame:
    """Distribution-drift monitor (PSI-style): split the table into a
    reference half and a current half at the midpoint of its time
    range, bin ``value_col`` into fixed-width bins, and report per-bin
    counts and rate deltas between the halves.

    Everything is integer/rounded arithmetic: the midpoint is the mean
    of min/max epoch-micros (integers), rates are floor-half-up
    rounded to 6 places — engine-exact against the SQL oracle.

    Scale shape: ONE global min/max aggregation broadcast back (a
    one-row BroadcastNestedLoop, the repo's global-total rule), then
    ONE hash aggregation on ≤``n_bins`` keys with partial map-side
    combine — two passes over the scan, no wide shuffle at all.
    """
    from .windows import _ts_micros

    micros = _ts_micros(ts_col)
    # floor((lo+hi)/2): the sum stays below 2^53 so the double halving
    # is exact and floor == integer division — identical in any engine
    bounds = df.agg(
        F.min(micros).alias("_lo"), F.max(micros).alias("_hi")
    ).select(
        F.floor((F.col("_lo") + F.col("_hi")) / F.lit(2)).cast("long").alias("_mid")
    )
    binned = (
        df.crossJoin(F.broadcast(bounds))
        .select(
            F.greatest(
                F.least(
                    F.floor(F.col(value_col) / F.lit(bin_width)).cast("int"),
                    F.lit(n_bins - 1),
                ),
                F.lit(0),
            ).alias("bin"),
            (micros < F.col("_mid")).alias("_is_ref"),
        )
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.col("_is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("_is_ref")).cast("long")).alias("n_cur"),
    )
    pow10 = F.lit(1_000_000.0)

    def _rate_micros(cnt: Column, total: Column) -> Column:
        # rate in integer millionths (floor half-up) — all downstream
        # arithmetic stays integer so the rounded deltas are exact.
        # greatest(total, 1): an empty half (all rows on one side of
        # the midpoint) reports zero rates, not NULLs
        return F.floor(
            cnt.cast("double") / F.greatest(total, F.lit(1)).cast("double")
            * pow10 + F.lit(0.5)
        ).cast("long")

    totals = counts.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    rated = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_ref",
        "n_cur",
        _rate_micros(F.col("n_ref"), F.col("_tr")).alias("_rm"),
        _rate_micros(F.col("n_cur"), F.col("_tc")).alias("_cm"),
    )
    return rated.select(
        "bin",
        "n_ref",
        "n_cur",
        (F.col("_rm") / pow10).alias("rate_ref"),
        (F.col("_cm") / pow10).alias("rate_cur"),
        (F.abs(F.col("_rm") - F.col("_cm")) / pow10).alias("rate_abs_diff"),
    )


def equi_depth_bins(
    df: DataFrame,
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    n_bins: int = 10,
) -> DataFrame:
    """Exact equi-depth (quantile) binning — SQL-ntile semantics over
    the (value, tiebreak) total order — WITHOUT the single-partition
    global window a naive ``ntile() OVER (ORDER BY ...)`` plans
    (Exchange SinglePartition: every row through one task, the
    canonical 100 TB anti-pattern).

    Distributed global rank, all deterministic DataFrame ops:

    1. bucket rows by a low-cardinality coarse prefix of the sort key,
       ``floor(value)``, and count each bucket;
    2. prefix-sum those counts into per-bucket rank offsets — a
       global window over ONLY the coarse histogram (≤ thousands of
       rows, the aggregate-then-broadcast pattern, not a data-sized
       sort);
    3. broadcast-join offsets back, take a partition-LOCAL
       row_number within each coarse bucket, global rank = offset +
       local rank;
    4. assign buckets with the closed-form ntile inverse (first
       ``n % k`` buckets hold ``n//k + 1`` rows) computed from the
       histogram total as column arithmetic (integer DIV only).

    Exactly matches SQL ntile because coarse is a function of the
    leading sort key, so (coarse, value, tiebreak) ordering == global
    ordering.  ``sketch_profile`` is the
    approximate 100 TB shortcut when cut points need not be exact.
    """
    from pyspark.sql import Window

    ck = F.floor(F.col(value_col)).cast("long").alias("_ck")
    d = df.select(F.col(value_col), F.col(tiebreak_col), ck)
    counts = d.groupBy("_ck").agg(F.count("*").alias("_cnt"))
    # global window over the coarse HISTOGRAM only (tiny by design)
    woff = (
        Window.orderBy("_ck")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_ck",
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
    )
    totals = counts.agg(F.sum("_cnt").alias("_n"))
    w = Window.partitionBy("_ck").orderBy(F.col(value_col), F.col(tiebreak_col))
    ranked = (
        d.join(F.broadcast(offsets), "_ck")
        .withColumn("_lrn", F.row_number().over(w).cast("long"))
        .withColumn("_rank", F.col("_off") + F.col("_lrn"))
        .crossJoin(F.broadcast(totals))
    )
    # closed-form SQL-ntile bucket for 1-based global rank i over n
    # rows: q = n DIV k, r = n % k; first r buckets hold q+1 rows
    k = int(n_bins)
    bucket = F.expr(
        f"CASE WHEN _rank <= (_n DIV {k} + 1) * (_n % {k}) "
        f"THEN (_rank - 1) DIV (_n DIV {k} + 1) + 1 "
        f"ELSE (_n % {k}) + (_rank - (_n DIV {k} + 1) * (_n % {k}) - 1) "
        f"     DIV greatest(_n DIV {k}, 1) + 1 END"
    )
    tiled = ranked.select(
        F.col(value_col), bucket.cast("int").alias("bin")
    )
    return tiled.groupBy("bin").agg(
        F.count("*").alias("n_rows"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(
            F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
        ).alias("value_sum_micros"),
    )


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Shuffle-key skew diagnostic — the measurement you run BEFORE
    choosing salting / AQE skew-join thresholds: per-key row counts
    for the ``top_n`` heaviest keys plus each key's share and its
    ratio to the mean key load.

    Returns (key, cnt, share_micros, skew_ratio_micros): both ratios
    as floor-half-up integer millionths, so the report is engine-exact.
    ``skew_ratio_micros`` = cnt / (total/n_keys) — 1 000 000 means a
    perfectly balanced key; the salting threshold in
    ``joins.salted_join`` is driven by exactly this number.

    One hash aggregation (partial map-side) + a one-row broadcast of
    the totals + TakeOrdered — the scan's row count never reaches the
    driver.  Ordered by (cnt desc, key asc): a total order, so top-N
    is exact.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("_tot"),
        F.count("*").alias("_nkeys"),
    )
    pow10 = F.lit(1_000_000.0)
    j = counts.crossJoin(F.broadcast(totals)).select(
        "key",
        "cnt",
        F.floor(
            F.col("cnt").cast("double") / F.col("_tot").cast("double") * pow10
            + F.lit(0.5)
        ).cast("long").alias("share_micros"),
        F.floor(
            F.col("cnt").cast("double") * F.col("_nkeys").cast("double")
            / F.col("_tot").cast("double") * pow10
            + F.lit(0.5)
        ).cast("long").alias("skew_ratio_micros"),
    )
    return j.orderBy(F.col("cnt").desc(), F.col("key")).limit(top_n)


def grouped_equi_depth_bins(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    n_bins: int = 10,
) -> DataFrame:
    """Per-key equi-depth bins: ``ntile`` over a KEYED window — unlike
    the global variant (``equi_depth_bins``) this needs no offset
    machinery because the window partitions on the key, so Spark
    plans a plain hashpartitioning exchange; per-key sorts happen
    inside each partition.  Exactly the SQL-ntile bucket sizes per
    key; summaries in integer micros.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(value_col), F.col(tiebreak_col)
    )
    tiled = df.select(
        F.col(key_col), F.col(value_col),
        F.ntile(n_bins).over(w).alias("bin"),
    )
    return tiled.groupBy(key_col, "bin").agg(
        F.count("*").alias("n_rows"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(
            F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
        ).alias("value_sum_micros"),
    )
