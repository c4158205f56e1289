"""Financial/time-series downsampling and nearest-event alignment
(§2.K adjuncts, batch side): OHLC bar rollup and nearest-asof join.

These complete the time-series family next to `ts_gap_fill` /
`ts_interpolate_linear` (reshape.py) and `join_asof` (joins.py,
backward-looking). Both ops here are ORACLE-tier.

Cross-engine determinism: ties inside an hour bar (or equidistant
candidates in the nearest join) are broken by a single *sortable
string* key — zero-padded microsecond timestamp + zero-padded
event_id — because DuckDB's `arg_min/arg_max` accept only scalar keys
(no struct ordering). `date_format(ts,'yyyyMMddHHmmssSSSSSS')` on the
Spark side and `strftime(ts,'%Y%m%d%H%M%S%f')` on the DuckDB side were
verified byte-identical on the fixtures, as was
`unix_micros(ts)` == `epoch_us(ts)` (UTC session, timestamp_ntz).

Scale notes:
- `ts_downsample_ohlc` is one hash aggregation keyed on
  (event_type, hour): map-side partial min/max/argmin/argmax then one
  shuffle of already-tiny partials. At 100 TB the bar table is ~5
  types x hours — kilobytes — regardless of input size.
- `ts_asof_nearest` joins on the *equi* key user_id first (hash join,
  one shuffle each side) and applies the +/-1h band as a post-join
  filter, then takes top-1 per probe row with a window over
  (purchase event). The candidate set per user is bounded by the time
  band, so the window state stays small; no cross product over raw
  events ever materializes. Skewed users would be handled by AQE skew
  split (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkml_spark.registry import dsum, dsum_sql, query
from sparkml_spark.session import reap_later
from sparkml_spark.sources.loader import load_table

# Single sortable tie-break key: chronological then event_id. (Built
# lazily — Column exprs need an active SparkContext at import time.)
def _key_spark():
    return F.concat(
        F.date_format("ts", "yyyyMMddHHmmssSSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )


_KEY_SQL = (
    "strftime(ts,'%Y%m%d%H%M%S%f') || lpad(CAST(event_id AS VARCHAR),12,'0')"
)


@query(
    "ts_downsample_ohlc",
    section="2.K",
    oracle=f"""
SELECT event_type,
       date_trunc('hour', ts) AS hour_start,
       arg_min(value, {_KEY_SQL}) AS bar_open,
       MAX(value) AS bar_high,
       MIN(value) AS bar_low,
       arg_max(value, {_KEY_SQL}) AS bar_close,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
)
def ts_downsample_ohlc(spark, sf_dir):
    """Hourly OHLC bars per event_type: open/close are the first/last
    value in the bar (chronological, event_id tie-break), high/low the
    extremes — the canonical market-data / metrics downsample. One
    aggregation pass; min_by/max_by keep it a single shuffle with
    map-side partials (no window sort over raw events)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_start"),
    ).agg(
        F.min_by("value", _key_spark()).alias("bar_open"),
        F.max("value").alias("bar_high"),
        F.min("value").alias("bar_low"),
        F.max_by("value", _key_spark()).alias("bar_close"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


@query(
    "ts_asof_nearest",
    section="2.K",
    oracle="""
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS v_id, user_id, ts AS v_ts, value AS v_value
  FROM events WHERE event_type = 'view'
), cand AS (
  SELECT p.p_id, p.user_id, p.p_ts, p.p_value, v.v_id, v.v_value,
         abs(epoch_us(p.p_ts) - epoch_us(v.v_ts)) AS gap_us,
         ROW_NUMBER() OVER (
           PARTITION BY p.p_id
           ORDER BY abs(epoch_us(p.p_ts) - epoch_us(v.v_ts)), v.v_id
         ) AS rn
  FROM p JOIN v ON p.user_id = v.user_id
  WHERE abs(epoch_us(p.p_ts) - epoch_us(v.v_ts)) <= 3600000000
)
SELECT p_id, user_id, p_ts, p_value, v_id AS nearest_view_id,
       v_value AS nearest_view_value, gap_us
FROM cand WHERE rn = 1
""",
)
def ts_asof_nearest(spark, sf_dir):
    """Nearest-asof join (both directions): each purchase matched to
    the closest-in-time view by the same user within +/-1 hour —
    `join_asof` is backward-only; this is the symmetric variant used
    for sensor / impression alignment. Equi hash join on user_id, band
    filter, then top-1 per purchase via a window (ties: earlier view
    event_id)."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        us.alias("p_us"),
        F.col("value").alias("p_value"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        "user_id",
        us.alias("v_us"),
        F.col("value").alias("v_value"),
    )
    gap = F.abs(F.col("p_us") - F.col("v_us"))
    cand = (
        p.join(v, "user_id")
        .filter(gap <= 3_600_000_000)
        .withColumn("gap_us", gap)
    )
    w = Window.partitionBy("p_id").orderBy("gap_us", "v_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_id",
            "user_id",
            "p_ts",
            "p_value",
            F.col("v_id").alias("nearest_view_id"),
            F.col("v_value").alias("nearest_view_value"),
            "gap_us",
        )
    )


@query(
    "op_scd2_intervals",
    section="2.K",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), marked AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM seq
), runs AS (
  SELECT user_id, event_type, run_id,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM marked GROUP BY user_id, event_type, run_id
)
SELECT user_id, event_type, run_id, valid_from, n_events,
       LEAD(valid_from) OVER (
         PARTITION BY user_id ORDER BY run_id
       ) AS valid_to,
       LEAD(valid_from) OVER (
         PARTITION BY user_id ORDER BY run_id
       ) IS NULL AS is_current
FROM runs
""",
)
def op_scd2_intervals(spark, sf_dir):
    """SCD type-2 history build: collapse each user's consecutive
    same-event_type runs into validity intervals [valid_from,
    valid_to) with an is_current flag — the warehouse pattern for
    attribute history, derived with lag-change-marker + running-sum
    run ids (no self-join). Two windows over the same (user, time)
    ordering -> ONE shuffle+sort reused by both (Catalyst collapses
    equal-partitioning windows); the runs rollup and the lead over
    runs are user-cardinality, not event-cardinality."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(wrun)
        .alias("run_id"),
    )
    runs = marked.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    wl = Window.partitionBy("user_id").orderBy("run_id")
    nxt = F.lead("valid_from").over(wl)
    return runs.select(
        "user_id",
        "event_type",
        "run_id",
        "valid_from",
        "n_events",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "ts_median_order_gap",
    section="2.K",
    oracle="""
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
           LAG(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT o_custkey,
       COUNT(gap_days) AS n_gaps,
       median(gap_days) AS median_gap_days,
       MIN(gap_days) AS min_gap_days,
       MAX(gap_days) AS max_gap_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY o_custkey
""",
)
def ts_median_order_gap(spark, sf_dir):
    """Inter-arrival statistics: per-customer median/min/max days
    between consecutive orders (lag + datediff + exact median) — the
    repurchase-cadence signal behind churn models. One shuffle for the
    customer window, then a per-customer aggregate; exact median is
    safe here because each customer's gap list is small (the
    high-cardinality-median caveat from agg_median_mad doesn't bite —
    state is per-customer, not per-group-of-millions)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count("gap_days").alias("n_gaps"),
        F.median("gap_days").alias("median_gap_days"),
        F.min("gap_days").alias("min_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


# ---------------------------------------------------------------------------
# ts_autocorr (round 11) — autocorrelation function of the daily series
# ---------------------------------------------------------------------------

@query(
    "ts_autocorr",
    section="2.I",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)
), m AS (
  SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean FROM daily
), dev AS (
  SELECT d, CAST(c AS DOUBLE) - mean AS dv FROM daily CROSS JOIN m
), den AS (
  SELECT CAST(SUM(CAST(round(dv * dv, 9) AS DECIMAL(30,9))) AS DOUBLE) AS den
  FROM dev
), lags AS (SELECT unnest([1, 2, 3, 7]) AS lag),
num AS (
  SELECT lags.lag,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(CAST(round(a.dv * b.dv, 9) AS DECIMAL(30,9))) AS DOUBLE) AS num
  FROM lags, dev a JOIN dev b ON b.d = a.d + lags.lag
  GROUP BY lags.lag
)
SELECT CAST(num.lag AS BIGINT) AS lag, num.n_terms,
       round(num.num / den.den, 6) AS acf
FROM num CROSS JOIN den
""",
)
def ts_autocorr(spark, sf_dir):
    """Autocorrelation function of the daily event-count series at
    lags 1/2/3/7 (the day-over-day and week-over-week seasonality
    probe): ACF(L) = Σ (c_t − μ)(c_{t+L} − μ) / Σ (c_t − μ)². Each
    product term is quantized at 9dp and decimal-summed (the
    engine-wide order-independence pattern); μ is one exact-int-sum
    division.

    Scale: the corpus-sized stage is the daily partial aggregation
    (one scan, map-side combine onto ~365 rows/year); the ACF itself
    runs on the tiny series via a self-join on shifted dates —
    series-sized, not event-sized, at any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = daily.agg(
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mean")
    )
    dev = reap_later(daily.crossJoin(F.broadcast(m)).select(
        "d", (F.col("c").cast("double") - F.col("mean")).alias("dv")
    ).cache())
    den = dev.agg(
        F.sum(F.round(F.col("dv") * F.col("dv"), 9).cast("decimal(30,9)"))
        .cast("double")
        .alias("den")
    )
    lags = spark.createDataFrame([(1,), (2,), (3,), (7,)], "lag INT")
    a = dev.select(F.col("d").alias("da"), F.col("dv").alias("dva"))
    b = dev.select(F.col("d").alias("db"), F.col("dv").alias("dvb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.date_add(F.col("da"), F.col("lag")))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(
                F.round(F.col("dva") * F.col("dvb"), 9).cast("decimal(30,9)")
            )
            .cast("double")
            .alias("num"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("long").alias("lag"),
        "n_terms",
        F.round(F.col("num") / F.col("den"), 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# ts_cusum_changepoint (round 11) — integer-exact CUSUM drift location
# ---------------------------------------------------------------------------

@query(
    "ts_cusum_changepoint",
    section="2.I",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)
), idx AS (
  SELECT d, c,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         SUM(c) OVER (ORDER BY d) AS cum
  FROM daily
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n FROM daily
), s AS (
  SELECT idx.d, abs(tot.n * idx.cum - idx.t * tot.total) AS stat
  FROM idx CROSS JOIN tot
), best AS (
  SELECT d, stat, ROW_NUMBER() OVER (ORDER BY stat DESC, d ASC) AS rn FROM s
)
SELECT best.d AS changepoint_day,
       CAST(best.stat AS BIGINT) AS cusum_stat,
       tot.n AS n_days, tot.total AS total_events
FROM best CROSS JOIN tot WHERE best.rn = 1
""",
)
def ts_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint location on the daily event-count series
    [Page 1954's cumulative-sum test, offline form]: the changepoint
    estimate is argmax_t |Σ_{i<=t}(c_i − μ)|. Multiplying through by n
    clears the mean's division — stat'_t = |n·cum_t − t·total| is
    EXACT int64 algebra, so the argmax (earliest day on ties) is
    hash-pinnable with no float anywhere. This is the
    drift-localization primitive behind pipeline monitoring
    (quality_drift_* tell you THAT the mix moved; CUSUM tells you
    WHEN).

    Scale: one daily partial aggregation (corpus-sized scan,
    map-side combine), then prefix sums on the tiny series — the
    ts_autocorr posture."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    word = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    idx = daily.select(
        "d",
        "c",
        F.row_number().over(W.orderBy("d")).alias("t"),
        F.sum("c").over(word).alias("cum"),
    )
    tot = daily.agg(
        F.sum("c").cast("long").alias("total"), F.count(F.lit(1)).cast("long").alias("n")
    )
    s = idx.crossJoin(F.broadcast(tot)).select(
        "d",
        F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("total")).alias("stat"),
        "n",
        "total",
    )
    best = s.withColumn(
        "rn", F.row_number().over(W.orderBy(F.col("stat").desc(), F.col("d").asc()))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("d").alias("changepoint_day"),
        F.col("stat").cast("long").alias("cusum_stat"),
        F.col("n").alias("n_days"),
        F.col("total").alias("total_events"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_backtest (round 11) — seasonal-naive baseline + exact
# error metrics (the forecast-eval primitive).
# ---------------------------------------------------------------------------

@query(
    "ts_forecast_backtest",
    section="2.I",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)
), pairs AS (
  SELECT a.d, a.c AS actual, f.c AS forecast, a.c - f.c AS err
  FROM daily a JOIN daily f ON f.d = a.d - 7
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
         CAST(SUM(abs(err)) AS BIGINT) AS sae,
         CAST(SUM(err * err) AS BIGINT) AS sse,
         CAST(SUM(CAST(round(CAST(abs(err) AS DOUBLE) / actual, 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS sape
  FROM pairs
)
SELECT n_forecasts,
       round(CAST(sae AS DOUBLE) / n_forecasts, 6) AS mae,
       round(sqrt(CAST(sse AS DOUBLE) / n_forecasts), 6) AS rmse,
       round(sape / n_forecasts, 6) AS mape
FROM m
""",
)
def ts_forecast_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest (forecast_t = actual_{t-7},
    the standard baseline every real forecaster must beat) with exact
    error metrics: MAE and RMSE come from integer |err| / err² sums
    (one final division; sqrt is IEEE exactly-rounded), MAPE's
    per-term rational |err|/actual is quantized at 9dp and
    decimal-summed (the engine-wide pattern). Zero-actual days would
    be division hazards — daily counts are >0 by construction (a day
    with no events has no row, and the join drops unmatched days).

    Scale: one daily partial aggregation is the corpus-sized stage;
    the backtest itself is a self-join on the shifted tiny series —
    the ts_autocorr posture."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("actual"))
    f = daily.select(F.col("d").alias("df"), F.col("c").alias("forecast"))
    pairs = a.join(f, F.col("df") == F.date_sub(F.col("da"), 7)).select(
        "actual", "forecast", (F.col("actual") - F.col("forecast")).alias("err")
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_forecasts"),
        F.sum(F.abs(F.col("err"))).cast("long").alias("sae"),
        F.sum(F.col("err") * F.col("err")).cast("long").alias("sse"),
        F.sum(
            F.round(
                F.abs(F.col("err")).cast("double") / F.col("actual"), 9
            ).cast("decimal(30,9)")
        )
        .cast("double")
        .alias("sape"),
    )
    return m.select(
        "n_forecasts",
        F.round(F.col("sae").cast("double") / F.col("n_forecasts"), 6).alias("mae"),
        F.round(
            F.sqrt(F.col("sse").cast("double") / F.col("n_forecasts")), 6
        ).alias("rmse"),
        F.round(F.col("sape") / F.col("n_forecasts"), 6).alias("mape"),
    )


# ---------------------------------------------------------------------------
# ts_theil_sen (round 11) — robust trend slope, deterministic median
# ---------------------------------------------------------------------------

@query(
    "ts_theil_sen",
    section="2.I",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)
), idx AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily
), slopes AS (
  SELECT a.t AS i, b.t AS j,
         CAST(b.c - a.c AS DOUBLE) / (b.t - a.t) AS slope
  FROM idx a JOIN idx b ON b.t > a.t
), ranked AS (
  SELECT slope,
         ROW_NUMBER() OVER (ORDER BY slope ASC, i ASC, j ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM slopes
)
SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
       round(MIN(CASE WHEN 2 * rn >= n + 1 THEN slope END), 6)
         AS theil_sen_slope
FROM ranked
""",
)
def ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend estimate of the daily series: the
    median of all pairwise slopes (c_j − c_i)/(j − i) — the
    breakdown-resistant alternative to the OLS slope
    (agg_linear_regression), standard for monitoring trends through
    outlier days. Each slope is ONE exact integer division (IEEE
    exactly-rounded ⇒ bit-identical), and the median is the
    lower-median element selected by rank with (slope, i, j) total
    order — no averaging of middle elements, so no float addition
    anywhere. The O(n²) pair set is SERIES-sized (30 days → 435
    pairs), not corpus-sized.

    Scale: the corpus-sized stage is the daily partial aggregation;
    the pair join and rank run on the tiny series — the documented
    iterate-small posture shared by the whole ts_* family."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    idx = daily.select(
        "c", F.row_number().over(W.orderBy("d")).alias("t")
    )
    a = idx.select(F.col("t").alias("i"), F.col("c").alias("ca"))
    b = idx.select(F.col("t").alias("j"), F.col("c").alias("cb"))
    slopes = (
        a.join(b, F.col("j") > F.col("i"))
        .select(
            "i",
            "j",
            (
                (F.col("cb") - F.col("ca")).cast("double") / (F.col("j") - F.col("i"))
            ).alias("slope"),
        )
    )
    ranked = slopes.select(
        "slope",
        F.row_number()
        .over(W.orderBy(F.col("slope").asc(), F.col("i").asc(), F.col("j").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(
            F.min(F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("slope"))), 6
        ).alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# ts_burst_detection (round 11) — rate-spike flags, integer-exact
# ---------------------------------------------------------------------------

@query(
    "ts_burst_detection",
    section="2.I",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY date_trunc('hour', ts)
), trail AS (
  SELECT h, c,
         CAST(SUM(c) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS t24,
         CAST(COUNT(*) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS n24
  FROM hourly
)
SELECT h, c, t24, n24,
       n24 = 24 AND c * n24 > 3 * t24 AS is_burst
FROM trail
""",
)
def ts_burst_detection(spark, sf_dir):
    """Rate-burst detection on the hourly series: an hour is a burst
    when its count exceeds 3× the trailing-24h mean — compared as
    c·n24 > 3·t24 (integer cross-multiplication, no mean division,
    the weighted-percentile trick), with a full-window guard (n24 =
    24) so the warm-up hours can never false-positive. The simple
    rate-ratio detector that pages before the Kleinberg machinery is
    warranted; CUSUM locates level shifts, this flags spikes.

    Scale: one hourly partial aggregation, then a rows-frame window
    on the tiny series — the ts_* family posture."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wt = W.orderBy("h").rowsBetween(-24, -1)
    trail = hourly.select(
        "h",
        "c",
        F.sum("c").over(wt).cast("long").alias("t24"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n24"),
    )
    return trail.select(
        "h",
        "c",
        "t24",
        "n24",
        ((F.col("n24") == 24) & (F.col("c") * F.col("n24") > 3 * F.col("t24"))).alias(
            "is_burst"
        ),
    )
