"""§2.D Aggregation operators (SURVEY.md).

Physical shape (all of these): partial hash-agg on each input partition
→ shuffle on the grouping keys → final hash-agg, with sort-based
fallback on spill. That is Catalyst's plan, not ours — we only declare
the logical agg. At 100 TB the shuffle width is the grouping-key
cardinality, which for every query here is small (flags, priorities,
nations), so the map-side partial agg collapses the data before the
exchange: these scale linearly with input and are not shuffle-bound.

Float parity: every SUM/AVG over doubles goes through `dsum`/`davg`
(exact decimal-cast summation — see registry.py) so results are
bit-identical to the DuckDB oracle with no rounding slop. Variance /
correlation are decomposed into exact sums and recombined with
identical double arithmetic on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkml_spark.registry import (
    DEC,
    ZERO_VIOLATIONS,
    davg_sql,
    dsum,
    dsum_sql,
    lsum,
    lsum_sql,
    query,
)
from sparkml_spark.session import reap_later
from sparkml_spark.sources.loader import load_table, load_tables


# ---------------------------------------------------------------------------
# agg_global — whole-table aggregates, no grouping key.
# Plan: partial agg per partition → single-row final agg. No wide shuffle.
# ---------------------------------------------------------------------------
@query(
    "agg_global",
    section="2.D",
    oracle=f"""
SELECT
  COUNT(*) AS n_rows,
  {dsum_sql('l_extendedprice')} AS sum_price,
  {davg_sql('l_quantity')} AS avg_qty,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  MIN(l_shipdate) AS min_ship,
  MAX(l_shipdate) AS max_ship
FROM lineitem
""",
)
def agg_global(spark, sf_dir):
    """Global count/sum/avg/min/max over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
        (dsum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


# ---------------------------------------------------------------------------
# agg_groupby_multi — THE FLAGSHIP (TPC-H Q1 shape, measured in BASELINE.md
# as q_pricing_summary). Multi-key group, 8 aggregates, pushed-down filter.
# ---------------------------------------------------------------------------
@query(
    "agg_groupby_multi",
    section="2.D",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {lsum_sql('l_quantity')} AS sum_qty,
  {lsum_sql('l_extendedprice')} AS sum_base_price,
  {lsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {lsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {lsum_sql('l_quantity')} / COUNT(l_quantity) AS avg_qty,
  {lsum_sql('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
  {lsum_sql('l_discount')} / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_groupby_multi(spark, sf_dir):
    """Pricing summary: filter → 2-key groupBy → 8 aggregates.

    The `l_shipdate <=` predicate reaches the parquet scan as a pushed
    filter and `ReadSchema` carries only the 7 referenced columns
    (verified via explain — SURVEY.md §4.2).

    THE FLAGSHIP's aggregates use `lsum` (split-grid long sums — see
    registry.py) rather than `dsum`: same 1e-6 quantization grid, same
    exact cross-engine hash, but the hot loop is primitive long adds
    instead of decimal arithmetic — measured 1.04-1.20s → 0.70-0.76s
    fresh-plan e2e at sf0.1, which is the "exact-decimal aggregation
    tax" SCALE.md tracked since r5, now mostly repaid. Overflow bounds
    (why this is still 100 TB-safe) are in the lsum docstring."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            lsum("l_quantity").alias("sum_qty"),
            lsum("l_extendedprice").alias("sum_base_price"),
            lsum(disc_price).alias("sum_disc_price"),
            lsum(charge).alias("sum_charge"),
            (lsum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            (lsum("l_extendedprice") / F.count("l_extendedprice")).alias("avg_price"),
            (lsum("l_discount") / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# agg_having — post-aggregation filter (HAVING).
# ---------------------------------------------------------------------------
@query(
    "agg_having",
    section="2.D",
    oracle=f"""
SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12
""",
)
def agg_having(spark, sf_dir):
    """Customers with >= 12 orders (HAVING == filter after agg)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_spent"))
        .filter(F.col("n_orders") >= 12)
    )


# ---------------------------------------------------------------------------
# agg_count_distinct — exact distinct counts (expands to a 2-phase agg:
# distinct-ify on (group, key) then count; Catalyst plans both shuffles).
# ---------------------------------------------------------------------------
@query(
    "agg_count_distinct",
    section="2.D",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_count_distinct(spark, sf_dir):
    """Distinct customers per order priority."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_count_distinct_1000",
    section="2.D",
    oracle="""
SELECT o_custkey % 1000 AS cust_bucket,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey % 1000
""",
)
def agg_count_distinct_1000(spark, sf_dir):
    """BASELINE.md's q_distinct_agg SHAPE (1000 output groups): count
    distinct over 1000 customer buckets. The 5-group
    `agg_count_distinct` is strictly cheaper than the published
    1000-row baseline row, so BENCH_r{N} measures this variant for an
    apples-to-apples comparison (same distinct-expansion shuffle
    width)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy((F.col("o_custkey") % 1000).alias("cust_bucket")).agg(
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# agg_approx_distinct — HyperLogLog++ sketch. ROWS tier: the sketch (and
# so the estimate) is engine-specific by design. At 100 TB this is the
# operator you reach for instead of agg_count_distinct: one pass, fixed
# memory per group, no distinct-expansion shuffle.
# ---------------------------------------------------------------------------
@query("agg_approx_distinct", section="2.D")
def agg_approx_distinct(spark, sf_dir):
    """Approximate distinct customers per priority (HLL++, rsd=2%)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers")
    )


# ---------------------------------------------------------------------------
# agg_stats — stddev / variance / correlation / covariance, decomposed
# into exact sums so both engines recombine identical doubles:
#   var_samp(x)    = (Sxx - Sx²/n) / (n-1)
#   covar_samp     = (Sxy - Sx·Sy/n) / (n-1)
#   corr           = covar / sqrt(varx · vary)
#
# Parity subtlety (found empirically at sf0.01): summing decimal-cast
# SQUARES of prices drifts — at magnitude ~1e10 a double's neighbors
# are ~2e-6 apart, so the double→decimal(…,6) cast is ambiguous and
# Spark (shortest-repr rounding) and DuckDB disagree on ~1-ulp of the
# total. Fix: QUANTIZE THE INPUTS first (cents grid — cast the raw
# ~1e5-magnitude values to DECIMAL(…,2), where the cast is unambiguous
# by ~9 orders of magnitude), then square/cross-multiply/sum entirely
# in exact decimal arithmetic, and cast the exact result to double.
# ---------------------------------------------------------------------------
_STATS_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DECIMAL(12,2)) AS qd,
         CAST(l_extendedprice AS DECIMAL(14,2)) AS pd
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(qd) AS DOUBLE) AS sx,
         CAST(SUM(qd * qd) AS DOUBLE) AS sxx,
         CAST(SUM(pd) AS DOUBLE) AS sy,
         CAST(SUM(pd * pd) AS DOUBLE) AS syy,
         CAST(SUM(qd * pd) AS DOUBLE) AS sxy
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag,
       n,
       ROUND((sxx - sx * sx / n) / (n - 1), 5) AS var_qty,
       ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty,
       ROUND((syy - sy * sy / n) / (n - 1), 0) AS var_price,
       ROUND((sxy - sx * sy / n) / (n - 1), 3) AS covar_qty_price,
       ROUND(((sxy - sx * sy / n) / (n - 1))
         / SQRT(((sxx - sx * sx / n) / (n - 1)) * ((syy - sy * sy / n) / (n - 1))), 9)
         AS corr_qty_price
FROM s
"""


@query("agg_stats", section="2.D", oracle=_STATS_ORACLE)
def agg_stats(spark, sf_dir):
    """Variance/stddev/covar/corr per return flag, engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(12,2)")
    pd_ = F.col("l_extendedprice").cast("decimal(14,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_qty = (sxx - sx * sx / n) / (n - 1)
    var_price = (syy - sy * sy / n) / (n - 1)
    covar = (sxy - sx * sy / n) / (n - 1)
    # The recombination is plain double arithmetic on bit-identical
    # sums, but engines may differ by ~1 ulp in the division/sqrt chain
    # (FMA contraction — observed at sf0.001 on corr). Each statistic
    # is therefore rounded at a per-column precision whose grid exceeds
    # the value's ulp by ~1e6, making the last-ulp noise unobservable.
    return s.select(
        "l_returnflag",
        "n",
        F.round(var_qty, 5).alias("var_qty"),
        F.round(F.sqrt(var_qty), 6).alias("std_qty"),
        F.round(var_price, 0).alias("var_price"),
        F.round(covar, 3).alias("covar_qty_price"),
        F.round(covar / F.sqrt(var_qty * var_price), 9).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# agg_percentile — exact percentiles (single interpolation step; rounded
# to 4 dp on both sides since the interpolation op order may differ).
# Scale note: exact percentile sorts each group; at 100 TB switch to
# approx_percentile (t-digest) — that twin is agg_approx_distinct-style
# ROWS tier and documented in SURVEY §4.3.
# ---------------------------------------------------------------------------
@query(
    "agg_percentile",
    section="2.D",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentile(spark, sf_dir):
    """Exact quartiles of extended price per return flag.

    One `percentile(col, array(...))` aggregate instead of three
    scalar calls (r13, guide §5): Spark's Percentile buffers every
    group value in a counts map per aggregate EXPRESSION, so the
    scalar form built and sorted three identical buffers; the array
    form builds one and reads all three quartiles from the same
    sorted counts — identical interpolation math, identical doubles,
    one third the aggregation-buffer memory."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("__p"))
        .select(
            "l_returnflag",
            F.round(F.col("__p")[0], 4).alias("p25"),
            F.round(F.col("__p")[1], 4).alias("p50"),
            F.round(F.col("__p")[2], 4).alias("p75"),
        )
    )


# ---------------------------------------------------------------------------
# agg_minmax_by — value of column A at the min/max of column B.
# Determinism: the ordering column is o_orderkey (unique PK), so the
# argmin/argmax is single-valued — no tie-break needed (SURVEY §7.4 #4).
# ---------------------------------------------------------------------------
@query(
    "agg_minmax_by",
    section="2.D",
    oracle="""
SELECT o_orderpriority,
       arg_min(o_totalprice, o_orderkey) AS first_order_price,
       arg_max(o_totalprice, o_orderkey) AS last_order_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_minmax_by(spark, sf_dir):
    """Price of the lowest/highest orderkey per priority (min_by/max_by)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min_by("o_totalprice", "o_orderkey").alias("first_order_price"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# agg_collect_sorted — per-group collect, sorted for determinism.
#
# The ORACLE variant serializes the sorted list to a CSV string: the
# driver's canonicalizer hashes via pandas sort_values, which cannot
# factorize ndarray-valued cells (round-1 red row, CORRECTNESS_r01
# `TypeError: unhashable type: 'numpy.ndarray'`). The raw array shape
# is kept as a ROWS-tier twin below.
# ---------------------------------------------------------------------------
@query(
    "agg_collect_sorted",
    section="2.D",
    oracle="""
SELECT r_name,
       array_to_string(list_sort(list(n_name)), ',') AS nations_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def agg_collect_sorted(spark, sf_dir):
    """Sorted list of nation names per region, emitted as a CSV scalar."""
    t = load_tables(spark, sf_dir)
    return (
        t.nation.join(t.region, t.nation.n_regionkey == t.region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            )
        )
    )


@query(
    "agg_collect_sorted_array",
    section="2.D",
    oracle="""
SELECT r_name,
       CAST(len(arr) AS INTEGER) AS n_nations,
       arr[1] AS first_nation,
       arr[-1] AS last_nation,
       array_to_string(arr, ',') AS nations_csv
FROM (
  SELECT r_name, list_sort(list(n_name)) AS arr
  FROM nation JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name
)
""",
)
def agg_collect_sorted_array(spark, sf_dir):
    """Array twin of agg_collect_sorted: builds the native
    array<string> per-group sorted collect_list, then exercises the
    array surface (size / element_at first & last / array_join) and
    emits SCALAR columns only.

    Result columns are flat by contract: the driver's canonicalizer
    hashes via pandas sort_values, which cannot factorize
    ndarray-valued cells (`TypeError: unhashable type:
    'numpy.ndarray'`, CORRECTNESS_r04/r05) — so the array is consumed
    inside the plan and never crosses the result boundary. That also
    promotes this op back to ORACLE tier."""
    t = load_tables(spark, sf_dir)
    arr = F.sort_array(F.collect_list("n_name"))
    return (
        t.nation.join(t.region, t.nation.n_regionkey == t.region.r_regionkey)
        .groupBy("r_name")
        .agg(arr.alias("arr"))
        .select(
            "r_name",
            F.size("arr").alias("n_nations"),
            F.element_at("arr", 1).alias("first_nation"),
            F.element_at("arr", -1).alias("last_nation"),
            F.array_join("arr", ",").alias("nations_csv"),
        )
    )


@query(
    "agg_mode_deterministic",
    section="2.D",
    oracle="""
SELECT o_orderpriority, event_mode, mode_count FROM (
  SELECT o_orderpriority, o_orderstatus AS event_mode, COUNT(*) AS mode_count,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY COUNT(*) DESC, o_orderstatus ASC) AS rn
  FROM orders GROUP BY o_orderpriority, o_orderstatus
) WHERE rn = 1
""",
)
def agg_mode_deterministic(spark, sf_dir):
    """Per-group statistical mode with a DETERMINISTIC tie-break
    (highest count, then lowest value) — the profiling aggregate
    Spark's builtin `mode()` leaves tie-nondeterministic, made
    reproducible so reruns and engines agree. Plan: one hash aggregate
    over the (group, value) pair, then a WindowGroupLimit top-1 per
    group — shuffle keys are the group columns, never the raw rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("mode_count")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("mode_count").desc(), F.col("o_orderstatus").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("event_mode"),
            "mode_count",
        )
    )


# ---------------------------------------------------------------------------
# agg_string_concat — ordered per-group string aggregation.
# ---------------------------------------------------------------------------
@query(
    "agg_string_concat",
    section="2.D",
    oracle="""
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nation_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def agg_string_concat(spark, sf_dir):
    """CSV of nation names per region, order pinned by sort_array."""
    t = load_tables(spark, sf_dir)
    return (
        t.nation.join(t.region, t.nation.n_regionkey == t.region.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nation_csv"))
    )


# ---------------------------------------------------------------------------
# agg_rollup / agg_cube / agg_grouping_sets — hierarchical aggregates.
# NULL-extended subtotal rows hash-match because both engines emit SQL
# NULL for the rolled-up keys.
# ---------------------------------------------------------------------------
@query(
    "agg_rollup",
    section="2.D",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark, sf_dir):
    """(flag, status) → (flag) → () subtotal hierarchy.

    r13 (guide §2.3 "aggregate before you shuffle"): rollup/cube
    Expand used to multiply every FACT row by the number of grouping
    sets before the partial aggregate; since both keys are non-null
    in the fixture schema and the aggregates are decomposable (exact
    decimal sum + count), aggregating to the (flag, status) grid
    first and rolling the ~6-row grid up is value-identical — the
    Expand now runs on grid rows, and the fact table pays one plain
    2-key shuffle instead of a 3× expanded one."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("__sq"),
        F.count(F.lit(1)).alias("__n"),
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("__sq").cast("double").alias("sum_qty"),
        F.sum("__n").alias("n"),
    )


@query(
    "agg_cube",
    section="2.D",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark, sf_dir):
    """Power-set grouping over (flag, status).

    Pre-aggregated to the (flag, status) grid before the cube Expand
    — see agg_rollup's r13 note; the cube's 4 grouping sets expand
    grid rows, not fact rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("__sq"),
        F.count(F.lit(1)).alias("__n"),
    )
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.sum("__sq").cast("double").alias("sum_qty"),
        F.sum("__n").alias("n"),
    )


@query(
    "agg_grouping_sets",
    section="2.D",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit grouping sets: by flag only, and by status only.

    Pre-aggregated to the (flag, status) grid before the Expand —
    see agg_rollup's r13 note."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("__sq"),
        F.count(F.lit(1)).alias("__n"),
    )
    return base.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.sum("__sq").cast("double").alias("sum_qty"),
        F.sum("__n").alias("n"),
    )


# ---------------------------------------------------------------------------
# agg_pivot — segments → columns. Spark's pivot leaves NULL where a
# (nation, segment) cell is empty; the oracle's FILTER'd count yields 0,
# so we normalize with fillna(0) and make the value list explicit (an
# implicit pivot would scan twice to discover values — wrong at scale).
# ---------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "agg_pivot",
    section="2.D",
    oracle="""
SELECT c_nationkey,
       COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS seg_automobile,
       COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING')   AS seg_building,
       COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE')  AS seg_furniture,
       COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD')  AS seg_household,
       COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY')  AS seg_machinery
FROM customer
GROUP BY c_nationkey
""",
)
def agg_pivot(spark, sf_dir):
    """Customer count per nation pivoted by market segment."""
    c = load_table(spark, sf_dir, "customer")
    df = (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    renames = {s: f"seg_{s.lower()}" for s in _SEGMENTS}
    return df.select("c_nationkey", *[F.col(s).alias(a) for s, a in renames.items()])


# ---------------------------------------------------------------------------
# agg_approx_percentile — the t-digest scale twin of agg_percentile
# (SURVEY §4.3 rule 3): one pass, fixed memory per group, no per-group
# sort. ROWS tier: sketch internals are engine-specific; accuracy is
# pinned in tests against the exact quartiles.
# ---------------------------------------------------------------------------
@query("agg_approx_percentile", section="2.D")
def agg_approx_percentile(spark, sf_dir):
    """Approximate quartiles of extended price per return flag.

    One array-percentage sketch instead of three (r13, guide §5): the
    scalar form built three independent Greenwald-Khanna summaries
    over the same rows; the array form builds one and queries it at
    all three ranks — same deterministic summary, same estimates, a
    third of the sketch memory and merge work."""
    li = load_table(spark, sf_dir, "lineitem")
    est = F.approx_percentile(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)),
        F.lit(10000),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(est.alias("__e"))
        .select(
            "l_returnflag",
            F.round(F.col("__e")[0], 4).alias("p25"),
            F.round(F.col("__e")[1], 4).alias("p50"),
            F.round(F.col("__e")[2], 4).alias("p75"),
        )
    )


@query(
    "agg_mode",
    section="2.D",
    oracle="""
SELECT user_id, event_type AS mode_event_type, cnt
FROM (
  SELECT user_id, event_type, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY COUNT(*) DESC, event_type ASC) AS rn
  FROM events
  GROUP BY user_id, event_type
)
WHERE rn = 1
""",
)
def agg_mode(spark, sf_dir):
    """Per-group mode (most frequent event type per user) with an
    explicit deterministic tie-break (higher count, then lexicographic
    type) — never the engine's native `mode()`, whose tie choice is
    engine-private. Count + ranked window: both shuffles are on
    user_id, the second input is one row per (user, type)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), "cnt")
    )


@query(
    "agg_percentile_disc",
    section="2.D",
    oracle="""
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.25) AS p25,
       quantile_disc(l_extendedprice, 0.50) AS p50,
       quantile_disc(l_extendedprice, 0.75) AS p75
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentile_disc(spark, sf_dir):
    """Discrete percentiles — actual data values, no interpolation
    (`agg_percentile` is the continuous twin). Exact doubles from the
    column domain, so no float-parity rounding is needed.

    r13 rewrite (guide §2.3/§5): the three `percentile_disc` WITHIN
    GROUP aggregates each built an independent per-group value→count
    buffer and sorted it at eval — 3× the memory and sort work, in
    unspillable JVM-object aggregation buffers. The discrete
    percentile is, by definition (SQL standard / SPARK-37691), the
    smallest value whose cumulative row count reaches p·n, so it is
    computed exactly on a pre-aggregated (group, value) counts grid:
    one partial-aggregating shuffle collapses the fact rows onto the
    value grid, a per-group running-count window finds the crossing
    values, and the rank test is cross-multiplied to integers
    (4·running ≥ k·total) so no float boundary ambiguity exists —
    the same construction agg_weighted_percentile already uses,
    hash-proven against DuckDB's quantile_disc."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wtot = Window.partitionBy("l_returnflag")
    cum = counts.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("cnt").over(wcum).alias("running"),
        F.sum("cnt").over(wtot).alias("tot"),
    )
    run, tot, val = F.col("running"), F.col("tot"), F.col("l_extendedprice")
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(4 * run >= tot, val)).alias("p25"),
        F.min(F.when(2 * run >= tot, val)).alias("p50"),
        F.min(F.when(4 * run >= 3 * tot, val)).alias("p75"),
    )


@query("agg_hll_sketch", section="2.D")
def agg_hll_sketch(spark, sf_dir):
    """Mergeable HLL sketches (Datasketches HllSketch, Spark 3.5+):
    per-event-type user sketches, each estimated AND union-merged into
    a corpus-wide estimate — the re-aggregatable form `agg_approx_
    distinct` can't give you (approx_count_distinct yields a number;
    sketches compose across partitions/days, which is what a 100 TB
    rollup pipeline stores). ROWS tier: the sketch binary and its
    estimator are engine-specific (DuckDB's HLL differs), but the
    output is deterministic — fixed lgConfigK, order-insensitive
    merges. Exact countDistinct rides along as the in-row error bound
    witness."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return (
        per_type.groupBy()
        .agg(
            F.sum("exact_users").alias("sum_exact_per_type"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total_users"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


@query("agg_count_min", section="2.D")
def agg_count_min(spark, sf_dir):
    """Count-min sketch built natively from DataFrame ops: d=4 seeded
    xxhash64 rows x w=256 buckets; per-(row,bucket) counts are one
    narrow aggregation, and each key's frequency estimate is the MIN
    over its d buckets -- overestimates only, by < corpus/w w.h.p.
    Exact counts ride along as the error witness. ROWS tier (xxhash64
    is Spark-specific); fully deterministic, no driver round-trip --
    unlike the JVM-private `DataFrameStatFunctions.countMinSketch`,
    this sketch IS a table, so it merges across days/partitions by
    summing buckets (the property a 100 TB rollup pipeline needs)."""
    d, w = 4, 256
    e = load_table(spark, sf_dir, "events")
    seeds = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("seed")
    bucket = F.pmod(F.xxhash64(F.concat(F.col("seed").cast("string"), F.col("event_type"))), F.lit(w))
    hashed = e.select("event_type").select("event_type", seeds).withColumn("bucket", bucket)
    cms = hashed.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    keys = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_cnt"))
    key_buckets = keys.select("event_type", "exact_cnt", seeds).withColumn("bucket", bucket)
    return (
        key_buckets.join(F.broadcast(cms), ["seed", "bucket"])
        .groupBy("event_type", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .orderBy("event_type")
    )


@query(
    "agg_bitmap_distinct",
    section="2.D",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counts via bitmap aggregation (Spark 3.5+
    bitmap_* family): user ids bucketed with bitmap_bucket_number,
    per-bucket bitmaps built with bitmap_construct_agg, merged with
    bitmap_or_agg, counted with bitmap_count. Unlike countDistinct
    (re-shuffles raw ids per query) the bitmaps are EXACT and
    MERGEABLE — store per-(day, type) bitmaps once, answer any
    rollup's distinct count by OR-ing them. That's the 100 TB pattern
    for repeated exact-distinct questions. ORACLE tier since round 2:
    the intermediate bitmap binary is Spark-private, but the OUTPUT is
    an exact distinct count — identical to COUNT(DISTINCT)."""
    e = load_table(spark, sf_dir, "events")
    per_bucket = (
        e.select("event_type", "user_id")
        .withColumn("bucket", F.expr("bitmap_bucket_number(user_id)"))
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(bm))").alias("n_distinct_users"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Sketch error-bound pins (round 2). The sketch estimates themselves are
# engine-specific (ROWS tier above), but their ACCURACY CONTRACT is not:
# each *_bound query computes |estimate - exact| Spark-side and returns
# the number of groups violating the published bound — the DuckDB oracle
# pins that count to zero. This turns every sketch op into hash-checkable
# external evidence without pretending DuckDB can reproduce the sketch.
# Margins are ~5x the advertised error so the pins are stable across SFs
# (rsd=2% HLL -> 10%; lgK=12 HLL -> 10%; CMS overestimates bounded by
# n_rows/w at d=4 w.h.p. -> exact one-sided check with the full slack).
# ---------------------------------------------------------------------------
#: Shared across operator modules since r7 — see registry.ZERO_VIOLATIONS.
_ZERO_VIOLATIONS = ZERO_VIOLATIONS


@query("agg_approx_distinct_bound", section="2.D", oracle=_ZERO_VIOLATIONS)
def agg_approx_distinct_bound(spark, sf_dir):
    """Error-bound pin for agg_approx_distinct: HLL++ (rsd=2%) per-
    priority distinct-customer estimates must sit within 10% of the
    exact countDistinct. Returns the violation count (oracle: 0)."""
    # r13 (guide §2.3): the old shape's real cost — per the committed
    # before-plan (plans/r13) — was the partial-aggregation shuffle of
    # 412-column rows: countDistinct + approx_count_distinct over raw
    # orders carried one partial HLL buffer PER (priority, custkey)
    # pair through the exchange. Pre-distincting the (priority,
    # custkey) pairs with a map-side-combining groupBy first narrows
    # the shuffle to two columns: the exact count is then a plain
    # count, and the HLL++ estimate is IDENTICAL because sketch
    # registers depend only on the SET of inserted values —
    # re-inserting a duplicate is a no-op (max of equal hashes).
    # (An earlier comment here blamed an Expand node; the before-plan
    # shows the wide partial-sketch shuffle was the mechanism —
    # VERDICT r13 #8.)
    # NOT-NULL assumption (ADVICE r13): countDistinct ignores NULL
    # custkeys while count-over-distinct-pairs would include one —
    # o_custkey is NOT NULL in TPC-H, and the fixture canary pins the
    # schema, so exact == countDistinct here by construction.
    o = load_table(spark, sf_dir, "orders")
    pairs = o.select("o_orderpriority", "o_custkey").distinct()
    per = pairs.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("est"),
        F.count(F.lit(1)).alias("exact"),
    )
    viol = F.abs(F.col("est") - F.col("exact")) > 0.10 * F.col("exact")
    return per.agg(F.count_if(viol).alias("n_violations"))


@query("agg_approx_percentile_bound", section="2.D", oracle=_ZERO_VIOLATIONS)
def agg_approx_percentile_bound(spark, sf_dir):
    """Error-bound pin for agg_approx_percentile: the t-digest quartile
    (accuracy=10000 => rank error <= n/10000) must lie between the
    exact quantiles at p +/- 0.02 — a ~200x slack on the rank bound.
    All quantities computed Spark-side; oracle pins violations to 0."""
    # r13 (guide §5): ONE exact-percentile buffer queried at all six
    # bracket ranks + ONE t-digest queried at the three target ranks,
    # instead of 6 exact buffers + 3 sketches — the old shape held
    # nine independent per-group aggregation buffers over the same
    # column (this was the slowest query in the census). Values are
    # identical: each buffer/sketch is deterministic over the same
    # input, so querying one at k ranks equals k single-rank copies.
    li = load_table(spark, sf_dir, "lineitem")
    brackets = [p + d for p in (0.25, 0.50, 0.75) for d in (-0.02, +0.02)]
    per = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice",
            F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)),
            F.lit(10000),
        ).alias("est"),
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(b) for b in brackets])
        ).alias("bound"),
    )
    viol = None
    for i in range(3):
        bad = (F.col("est")[i] < F.col("bound")[2 * i]) | (
            F.col("est")[i] > F.col("bound")[2 * i + 1]
        )
        viol = bad if viol is None else (viol | bad)
    return per.agg(F.count_if(viol).alias("n_violations"))


@query("agg_hll_sketch_bound", section="2.D", oracle=_ZERO_VIOLATIONS)
def agg_hll_sketch_bound(spark, sf_dir):
    """Error-bound pin for agg_hll_sketch: the union-merged Datasketches
    HLL estimate (lgK=12, rsd~1.6%) of total distinct users must sit
    within 10% of the exact corpus-wide countDistinct (oracle: 0)."""
    e = load_table(spark, sf_dir, "events")
    merged = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .groupBy()
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = e.agg(F.countDistinct("user_id").alias("exact"))
    viol = F.abs(F.col("est") - F.col("exact")) > 0.10 * F.col("exact")
    return merged.crossJoin(exact).agg(F.count_if(viol).alias("n_violations"))


@query("agg_count_min_bound", section="2.D", oracle=_ZERO_VIOLATIONS)
def agg_count_min_bound(spark, sf_dir):
    """Error-bound pin for agg_count_min: CMS estimates NEVER
    underestimate, and with d=4 rows x w=256 buckets each estimate's
    overshoot is at most the total row count / w x (small constant);
    we pin the deterministic one-sided invariant est >= exact and
    overshoot <= n_rows/256 * 4 (oracle: 0 violations)."""
    d, w = 4, 256
    e = load_table(spark, sf_dir, "events")
    # Total-row bound as a lazy broadcast 1-row aggregate (dimension-
    # scalar pattern, ADVICE r5) — no eager action at construction.
    n = F.broadcast(e.agg(F.count(F.lit(1)).alias("n_rows")))
    seeds = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("seed")
    bucket = F.pmod(
        F.xxhash64(F.concat(F.col("seed").cast("string"), F.col("event_type"))),
        F.lit(w),
    )
    hashed = e.select("event_type").select("event_type", seeds).withColumn("bucket", bucket)
    cms = hashed.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    keys = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_cnt"))
    key_buckets = keys.select("event_type", "exact_cnt", seeds).withColumn("bucket", bucket)
    est = (
        key_buckets.join(F.broadcast(cms), ["seed", "bucket"])
        .groupBy("event_type", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    viol = (F.col("est_cnt") < F.col("exact_cnt")) | (
        F.col("est_cnt") - F.col("exact_cnt")
        > F.lit(4.0) * F.col("n_rows") / F.lit(w)
    )
    return est.crossJoin(n).agg(F.count_if(viol).alias("n_violations"))


@query(
    "agg_median_mad",
    section="2.D",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med_value FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, median(abs(e.value - m.med_value)) AS mad_value
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT e.event_type AS event_type,
       COUNT(*) AS n_events,
       MIN(m.med_value) AS med_value,
       MIN(d.mad_value) AS mad_value,
       COUNT(*) FILTER (WHERE abs(e.value - m.med_value) > 3 * d.mad_value)
         AS n_outliers
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN mad d ON e.event_type = d.event_type
GROUP BY e.event_type
""",
)
def agg_median_mad(spark, sf_dir):
    """Robust outlier profile per event_type: exact median, median
    absolute deviation (median of |v - med|), and the count of events
    beyond 3*MAD — the robust-statistics twin of agg_stats' z-scores.

    Determinism: median/MAD are exact order statistics (Spark `median`
    == DuckDB `median`, verified on fixtures incl. the two-middle
    average), and |v-med| > 3*mad is single-op IEEE arithmetic, so the
    comparison is bit-identical cross-engine — no rounding needed.

    Scale: three grouped passes over events, each one shuffle on the
    ~5-row event_type key; med/mad tables broadcast back. Exact median
    at 100 TB implies a sort-based aggregate per key — acceptable here
    because the key cardinality is tiny and Spark's `median` spills;
    for high-cardinality keys the approx_percentile twin
    (`agg_approx_percentile`) is the scale path."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med_value"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med_value"))).alias("mad_value"))
    )
    dev = F.abs(F.col("value") - F.col("med_value"))
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("med_value").alias("med_value"),
            F.min("mad_value").alias("mad_value"),
            F.count_if(dev > 3 * F.col("mad_value")).alias("n_outliers"),
        )
    )


@query(
    "agg_histogram",
    section="2.D",
    oracle=f"""
SELECT CAST(floor(value / 20.0) AS BIGINT) AS bin,
       CAST(floor(value / 20.0) AS BIGINT) * CAST(20.0 AS DOUBLE) AS bin_lo,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def agg_histogram(spark, sf_dir):
    """Fixed-width histogram of events.value (bin width 20): the
    one-pass distribution profile behind data-quality dashboards.
    Bin assignment is a per-row floor (exact IEEE: 2-dp inputs /
    integer width), then a single hash aggregation on ~17 bins —
    map-side partials shrink 100 TB of rows to bytes per task."""
    e = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 20.0).cast("bigint")
    return (
        e.withColumn("bin", bin_)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "bin",
            (F.col("bin") * 20.0).alias("bin_lo"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "agg_pivot_multi",
    section="2.D",
    oracle="""
SELECT c_nationkey,
       COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS automobile_n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6)))
            FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS DOUBLE)
         AS automobile_bal,
       COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS building_n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6)))
            FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE)
         AS building_bal
FROM customer
WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
GROUP BY c_nationkey
""",
)
def agg_pivot_multi(spark, sf_dir):
    """Pivot with MULTIPLE aggregates per cell (count + exact balance
    sum per segment column) — Spark names multi-agg pivot columns
    `{{value}}_{{alias}}`, realigned here to the oracle's explicit
    names. Same scale contract as agg_pivot: values enumerated up
    front (no discovery scan), single hash aggregation."""
    c = load_table(spark, sf_dir, "customer")
    df = (
        c.filter(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", ["AUTOMOBILE", "BUILDING"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("c_acctbal").alias("bal"),
        )
    )
    # Pivot leaves NULL in empty cells; the oracle's COUNT(*) FILTER
    # yields 0 there — align the count columns (sum stays NULL both sides).
    return df.select(
        "c_nationkey",
        F.coalesce(F.col("AUTOMOBILE_n"), F.lit(0)).alias("automobile_n"),
        F.col("AUTOMOBILE_bal").alias("automobile_bal"),
        F.coalesce(F.col("BUILDING_n"), F.lit(0)).alias("building_n"),
        F.col("BUILDING_bal").alias("building_bal"),
    )


@query(
    "agg_higher_moments",
    section="2.D",
    oracle="""
WITH q AS (
  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS qd FROM lineitem
), s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(qd) AS DOUBLE) AS s1,
         CAST(SUM(qd * qd) AS DOUBLE) AS s2,
         CAST(SUM(qd * qd * qd) AS DOUBLE) AS s3,
         CAST(SUM(qd * qd * qd * qd) AS DOUBLE) AS s4
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(s1 / n, 6) AS mean_qty,
       round((s2 - s1 * s1 / n) / n, 6) AS var_pop,
       round((s3 - 3 * s1 * s2 / n + 2 * s1 * s1 * s1 / (n * n)) / n
             / POW((s2 - s1 * s1 / n) / n, 1.5), 6) AS skewness,
       round((s4 - 4 * s1 * s3 / n + 6 * s1 * s1 * s2 / (n * n)
              - 3 * s1 * s1 * s1 * s1 / (n * n * n)) / n
             / POW((s2 - s1 * s1 / n) / n, 2) - 3, 6) AS excess_kurtosis
FROM s
""",
)
def agg_higher_moments(spark, sf_dir):
    """Skewness / excess kurtosis per return flag from EXACT raw
    moments: inputs quantized to the cents grid (decimal(12,2) — the
    agg_stats discipline), powers and sums entirely in exact decimal,
    then both engines recombine identical doubles (same formula text)
    and round at 6 dp (POW is the one libm call). Spark's built-in
    `skewness`/`kurtosis` stay engine-internal (streaming M2/M3/M4
    updates — order-dependent); raw-moment decomposition is the
    reproducible-at-1000-executors form, one partial->final hash agg
    regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(12,2)")
    s = li.select(F.col("l_returnflag"), qd.alias("qd")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qd").cast("double").alias("s1"),
        F.sum(F.col("qd") * F.col("qd")).cast("double").alias("s2"),
        F.sum(F.col("qd") * F.col("qd") * F.col("qd")).cast("double").alias("s3"),
        F.sum(F.col("qd") * F.col("qd") * F.col("qd") * F.col("qd"))
        .cast("double")
        .alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ["n", "s1", "s2", "s3", "s4"])
    var_pop = (s2 - s1 * s1 / n) / n
    skew = (s3 - 3 * s1 * s2 / n + 2 * s1 * s1 * s1 / (n * n)) / n / F.pow(var_pop, 1.5)
    kurt = (
        s4 - 4 * s1 * s3 / n + 6 * s1 * s1 * s2 / (n * n) - 3 * s1 * s1 * s1 * s1 / (n * n * n)
    ) / n / F.pow(var_pop, 2) - 3
    return s.select(
        "l_returnflag",
        "n",
        F.round(s1 / n, 6).alias("mean_qty"),
        F.round(var_pop, 6).alias("var_pop"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@query(
    "agg_grouping_id",
    section="2.D",
    oracle="""
SELECT COALESCE(c_mktsegment, '(all)') AS segment,
       COALESCE(CAST(c_nationkey AS VARCHAR), '(all)') AS nation,
       GROUPING(c_mktsegment) AS g_segment,
       GROUPING(c_nationkey) AS g_nation,
       COUNT(*) AS n_customers
FROM customer
GROUP BY ROLLUP (c_mktsegment, c_nationkey)
""",
)
def agg_grouping_id(spark, sf_dir):
    """ROLLUP with GROUPING() markers: distinguishes 'value is NULL in
    the data' from 'column rolled away at this level' — without the
    marker, subtotal rows are ambiguous (the agg_rollup caveat made
    explicit). Identical GROUPING semantics both engines; labels
    coalesced so every tier is a visible string."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.grouping("c_mktsegment").cast("bigint").alias("g_segment"),
            F.grouping("c_nationkey").cast("bigint").alias("g_nation"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("(all)")).alias("segment"),
            F.coalesce(F.col("c_nationkey").cast("string"), F.lit("(all)")).alias(
                "nation"
            ),
            "g_segment",
            "g_nation",
            "n_customers",
        )
    )


@query(
    "agg_bitmap_rollup_merge",
    section="2.D",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
UNION ALL
SELECT '__all__' AS event_type, COUNT(DISTINCT user_id) AS n_users
FROM events
""",
)
def agg_bitmap_rollup_merge(spark, sf_dir):
    """The bitmap ROLLUP-MERGE property demonstrated end to end (r10;
    agg_bitmap_distinct pins the per-group counts themselves): the
    per-(event_type, bucket) bitmaps are built ONCE, then the
    '__all__' rollup row is answered by bitmap_or_agg over those
    stored bitmaps — the raw data is never touched a second time.
    That is the 100 TB warehouse pattern for repeated exact-distinct
    questions: maintain per-segment bitmaps, answer ANY segment
    union's distinct count by pure bitmap OR (HLL's merge property,
    but exact).

    Oracle pins BOTH levels to exact COUNT(DISTINCT) — the bitmap
    path is exact by construction, so any drift is a broken
    bucket/position mapping (e.g. the off-by-one a naive id DIV 32768
    bucketing produces: bitmap_bit_position is 1-based-id oriented
    and collides two ids per hand-rolled bucket — measured 149 vs 150
    before switching to the canonical
    bitmap_bucket_number/bitmap_bit_position pairing)."""
    e = load_table(spark, sf_dir, "events")
    part = e.select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    bm = part.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    per_type = bm.groupBy("event_type").agg(
        F.expr("sum(bitmap_count(bm))").cast("long").alias("n_users")
    )
    merged = (
        bm.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.expr("sum(bitmap_count(bm))").cast("long").alias("n_users"))
        .select(F.lit("__all__").alias("event_type"), "n_users")
    )
    return per_type.unionByName(merged)


# ---------------------------------------------------------------------------
# agg_weighted_percentile (round 11) — weighted quantiles by cumulative
# weight crossing, exact on an integer grid.
# ---------------------------------------------------------------------------

@query(
    "agg_weighted_percentile",
    section="2.D",
    oracle="""
WITH grid AS (
  SELECT l_returnflag AS rf,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT)
), cum AS (
  SELECT rf, pc, w,
         SUM(w) OVER (PARTITION BY rf ORDER BY pc) AS running,
         SUM(w) OVER (PARTITION BY rf) AS tot
  FROM grid
)
SELECT rf AS l_returnflag,
       CAST(MAX(tot) AS BIGINT) AS total_weight,
       round(MIN(CASE WHEN 4 * running >= tot THEN pc END) / 100.0, 2) AS w_p25,
       round(MIN(CASE WHEN 2 * running >= tot THEN pc END) / 100.0, 2) AS w_median,
       round(MIN(CASE WHEN 4 * running >= 3 * tot THEN pc END) / 100.0, 2) AS w_p75
FROM cum GROUP BY rf
""",
)
def agg_weighted_percentile(spark, sf_dir):
    """Weighted percentiles (p25 / median / p75 of extended price,
    weighted by quantity) by the cumulative-weight-crossing
    definition: the weighted q-quantile is the smallest value v with
    cumweight(<= v) >= q * total. Everything runs on an exact integer
    grid — prices quantized to cents, weights to whole units, and the
    crossing test cross-multiplied (4*running >= 3*tot) so no
    division ever happens before the final display rounding. Spark
    has no built-in weighted percentile; this is the standard
    relational construction.

    Scale: one partial-aggregating groupBy collapses the fact table
    onto the (group, price-cent) grid — the running-sum window then
    operates on grid rows (bounded by distinct prices per group,
    ~100k at any corpus size), never on raw facts."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    grid = (
        li.select(
            F.col("l_returnflag").alias("rf"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("rf", "pc")
        .agg(F.sum("q").alias("w"))
    )
    wcum = Window.partitionBy("rf").orderBy("pc")
    wtot = Window.partitionBy("rf")
    cum = grid.select(
        "rf",
        "pc",
        F.sum("w").over(wcum).alias("running"),
        F.sum("w").over(wtot).alias("tot"),
    )
    return cum.groupBy(F.col("rf").alias("l_returnflag")).agg(
        F.max("tot").cast("long").alias("total_weight"),
        F.round(
            F.min(F.when(4 * F.col("running") >= F.col("tot"), F.col("pc"))) / 100.0,
            2,
        ).alias("w_p25"),
        F.round(
            F.min(F.when(2 * F.col("running") >= F.col("tot"), F.col("pc"))) / 100.0,
            2,
        ).alias("w_median"),
        F.round(
            F.min(F.when(4 * F.col("running") >= 3 * F.col("tot"), F.col("pc")))
            / 100.0,
            2,
        ).alias("w_p75"),
    )


# ---------------------------------------------------------------------------
# agg_linear_regression (round 11) — grouped OLS from exact sufficient
# statistics (the REGR_SLOPE/REGR_R2 family, determinized).
# ---------------------------------------------------------------------------

@query(
    "agg_linear_regression",
    section="2.D",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0, 6) AS slope,
       round((sy / 100.0 - (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * sx)
             / n, 6) AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
""",
)
def agg_linear_regression(spark, sf_dir):
    """Grouped ordinary least squares (price on quantity per return
    flag) from sufficient statistics — the REGR_SLOPE / REGR_INTERCEPT
    / REGR_R2 family, but determinized: the six sums (n, Σx, Σy, Σxy,
    Σx², Σy²) accumulate as EXACT integers on the cents × whole-unit
    grid (long adds, order-independent), are cast once to double, and
    every derived quantity is ONE fixed double expression tree both
    engines evaluate identically. Native regr_* aggregates stream
    doubles and are partition-order nondeterministic — unusable for a
    hash pin. y is priced in cents internally; slope/intercept are
    rescaled to dollars at the end.

    Scale: a pure partial aggregation — six map-side-combined sums per
    group, one narrow shuffle, O(groups) output. Regression over a
    trillion rows costs exactly one scan. Overflow posture (caught by
    the ×100 stress run, which blew int64 on Σy²: cents² terms are
    ~1e14 each, so a long accumulator dies at ~1e5 rows/group): the
    three PRODUCT sums accumulate as DECIMAL(38,0) — exact, order-
    independent, safe to ~1e24 rows/group — matching DuckDB's HUGEINT
    sum exactly; n/Σx/Σy stay primitive longs."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
            .cast("double")
            .alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
            .cast("double")
            .alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope_c = num / dx
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(slope_c / 100.0, 6).alias("slope"),
        F.round((F.col("sy") / 100.0 - slope_c / 100.0 * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.round((num * num) / (dx * dy), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# agg_entropy_gini (round 11) — impurity measures per group
# ---------------------------------------------------------------------------

@query(
    "agg_entropy_gini",
    section="2.D",
    oracle="""
WITH cls AS (
  SELECT event_type, user_id % 4 AS cls, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, user_id % 4
), g AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(c * c) AS BIGINT) AS ss,
         CAST(SUM(CAST(round(c * ln(c), 9) AS DECIMAL(30,9))) AS DOUBLE) AS sclnc
  FROM cls GROUP BY event_type
)
SELECT event_type, n, n_classes,
       round(1.0 - CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         AS gini,
       round(ln(n) - sclnc / n, 6) AS entropy
FROM g
""",
)
def agg_entropy_gini(spark, sf_dir):
    """Split-impurity measures per group (the decision-tree criteria,
    as first-class aggregates): Gini impurity 1 − Σ(cᵢ/n)² and Shannon
    entropy over the class distribution (class = user_id % 4 within
    each event type). Gini is exact rational algebra — integer
    class-count squares, one double division at the end. Entropy uses
    the identity H = ln(n) − (1/n)·Σ c·ln c with each c·ln c term
    quantized at 9dp and decimal-summed — the text_token_entropy
    parity pattern, order-independent by construction.

    Scale: two stacked partial aggregations ((type, class) then type)
    — class histograms map-side-combine, so impurity over any corpus
    is one scan + two narrow shuffles of histogram rows."""
    e = load_table(spark, sf_dir, "events")
    cls = (
        e.select("event_type", (F.col("user_id") % 4).alias("cls"))
        .groupBy("event_type", "cls")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = cls.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        # decimal accumulator: c^2 terms overflow a long sum once class
        # counts pass ~3e9 (c^2 ~ 1e19) — same posture as the OLS sums
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("long")
        .alias("ss"),
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(30,9)")
        )
        .cast("double")
        .alias("sclnc"),
    )
    return g.select(
        "event_type",
        "n",
        "n_classes",
        F.round(
            1.0 - F.col("ss").cast("double") / (F.col("n").cast("double") * F.col("n").cast("double")),
            6,
        ).alias("gini"),
        F.round(F.log("n") - F.col("sclnc") / F.col("n"), 6).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# agg_gini_coefficient (round 11) — revenue-concentration inequality
# ---------------------------------------------------------------------------

@query(
    "agg_gini_coefficient",
    section="2.D",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
), g AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY x
), cum AS (
  SELECT x, w,
         SUM(w) OVER (ORDER BY x) AS hi,
         SUM(w) OVER (ORDER BY x) - w AS lo
  FROM g
), s AS (
  SELECT CAST(SUM(w) AS BIGINT) AS n,
         CAST(SUM(x * w) AS BIGINT) AS sx,
         CAST(SUM(x * ((hi * (hi + 1) - lo * (lo + 1)) // 2)) AS DOUBLE) AS sranked
  FROM cum
)
SELECT n,
       round(CAST(sx AS DOUBLE) / n / 100.0, 2) AS mean_price,
       round((2.0 * sranked) / (CAST(n AS DOUBLE) * sx)
             - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
FROM s
""",
)
def agg_gini_coefficient(spark, sf_dir):
    """Gini coefficient of order-value concentration (the economics
    Gini, distinct from agg_entropy_gini's impurity): with values
    sorted ascending, G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n. Ranks are
    summed per VALUE-GRID group — a tie group occupying ranks
    (lo, hi] contributes x·Σ_{i=lo+1..hi} i = x·(hi(hi+1)−lo(lo+1))/2,
    which is exact int64 algebra on the cents grid (the /2 divides an
    even product exactly), so the whole statistic is integer until
    two final divisions composed identically on both engines.

    Scale: the agg_weighted_percentile posture — one partial
    aggregation collapses the corpus onto the value grid, the rank
    prefix-sum runs on grid rows, and a trillion-order Gini is one
    scan plus a grid-sized window."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("x"))
    g = v.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("w"))
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        "x",
        "w",
        F.sum("w").over(wc).alias("hi"),
        (F.sum("w").over(wc) - F.col("w")).alias("lo"),
    )
    s = cum.agg(
        F.sum("w").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("w")).cast("long").alias("sx"),
        # integer DIV (the bracket is even, so exact) and a decimal
        # accumulator: a double '/2' would make this a float SUM —
        # order-dependent and 2^53-bounded. Per-term longs hold to
        # ~1e9 rows (x*hi^2); past that lift the operands to
        # decimal(19,0) (documented posture, as in agg_linear_regression).
        # the decimal accumulator is cast to DOUBLE, not BIGINT: at
        # x100 fixture scale the rank sum is ~3.8e21 — int64 dies, the
        # decimal->double cast is the same deterministic rounding both
        # engines apply to the identical exact integer (lsum's
        # grid-exactness note has the full 2^53 contract)
        F.sum(
            (
                F.col("x")
                * F.expr("(hi * (hi + 1) - lo * (lo + 1)) DIV 2")
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sranked"),
    )
    return s.select(
        "n",
        F.round(F.col("sx").cast("double") / F.col("n") / 100.0, 2).alias(
            "mean_price"
        ),
        F.round(
            (2.0 * F.col("sranked")) / (F.col("n").cast("double") * F.col("sx").cast("double"))
            - (F.col("n").cast("double") + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# stat_benford_digits (round 11) — first-digit law audit
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) for d = 1..9, the Benford expectations, as FIXED
#: 9dp literals — identical constants on both engines by construction
#: (no runtime log10 whose last ulp could differ).
_BENFORD = {
    1: 0.301029996, 2: 0.176091259, 3: 0.124938737,
    4: 0.096910013, 5: 0.079181246, 6: 0.066946790,
    7: 0.057991947, 8: 0.051152522, 9: 0.045757491,
}

# literals CAST to DOUBLE: DuckDB types bare 0.301029996 as
# DECIMAL(10,9) and decimal arithmetic diverges from IEEE at rounding
# boundaries (caught by sf0.001 parity; the graph_pagerank lesson)
_BENFORD_SQL = "(CASE d.digit " + " ".join(
    f"WHEN {d} THEN CAST({p:.9f} AS DOUBLE)" for d, p in _BENFORD.items()
) + " END)"


@query(
    "stat_benford_digits",
    section="2.D",
    oracle=f"""
WITH v AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), d AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY digit
), t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM d)
SELECT d.digit, d.n,
       round(CAST(d.n AS DOUBLE) / t.nt, 6) AS p_obs,
       {_BENFORD_SQL} AS p_benford,
       round((CAST(d.n AS DOUBLE) / t.nt - {_BENFORD_SQL})
             * (CAST(d.n AS DOUBLE) / t.nt - {_BENFORD_SQL})
             / {_BENFORD_SQL}, 9) AS chi2_contrib
FROM d CROSS JOIN t
""",
)
def stat_benford_digits(spark, sf_dir):
    """Benford's-law first-digit audit of order values — the standard
    forensic screen for fabricated financial data: observed first-
    digit shares vs log10(1+1/d), with per-digit χ² contributions.
    The nine Benford expectations are FIXED 9dp literals (computing
    log10 at runtime would put a libm last-ulp inside the hash), the
    first digit comes from the cents-grid integer's decimal string
    (no float formatting), and p_obs is one exact division. Synthetic
    uniform-ish fixture values will FAIL the law loudly — large χ²
    contributions are the honest output, the op pins the audit
    algebra, not the fixture's innocence.

    Scale: one scan to a 9-row histogram — map-side combine, the
    calibration-bins posture."""
    o = load_table(spark, sf_dir, "orders")
    v = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    d = v.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = d.agg(F.sum("n").cast("long").alias("nt"))
    bmap = F.create_map(
        *[x for dd, p in _BENFORD.items() for x in (F.lit(dd), F.lit(p))]
    )
    p_obs = F.col("n").cast("double") / F.col("nt")
    return d.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(p_obs, 6).alias("p_obs"),
        bmap[F.col("digit")].alias("p_benford"),
        F.round(
            (p_obs - bmap[F.col("digit")])
            * (p_obs - bmap[F.col("digit")])
            / bmap[F.col("digit")],
            9,
        ).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# agg_audience_overlap (round 11) — pairwise audience intersection matrix
# ---------------------------------------------------------------------------

@query(
    "agg_audience_overlap",
    section="2.D",
    oracle="""
WITH aud AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
), sizes AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM aud GROUP BY t
), pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM aud a JOIN aud b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
       round(CAST(p.n_both AS DOUBLE) / (sa.n + sb.n - p.n_both), 6) AS jaccard,
       round(CAST(p.n_both AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
FROM pairs p
JOIN sizes sa ON sa.t = p.type_a
JOIN sizes sb ON sb.t = p.type_b
""",
)
def agg_audience_overlap(spark, sf_dir):
    """Pairwise audience-overlap matrix — the campaign-planning
    question ("how much of the clickers also purchase?"): for every
    pair of event types, the exact user intersection with Jaccard and
    containment coefficients (single exact divisions of integer set
    sizes). The same inverted-index self-join shape as
    dedup_ngram_jaccard, with the user as the posting key — a pair is
    counted only where a shared user exists, never by crossing
    audiences.

    Scale: one distinct collapses events to (type, user) memberships;
    the self-join fans out per user by their type-degree (≤ 5 here,
    ≤ a few dozen in any real taxonomy — bounded, the COOCCUR_CAP
    argument), then aggregates onto a types² matrix."""
    e = load_table(spark, sf_dir, "events")
    aud = reap_later(
        e.select(F.col("event_type").alias("t"), F.col("user_id").alias("u")).distinct().cache()
    )
    sizes = aud.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = aud.select(F.col("t").alias("type_a"), "u")
    b = aud.select(F.col("t").alias("type_b"), "u")
    pairs = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_both").cast("double") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# agg_hhi_concentration (round 11) — Herfindahl–Hirschman index
# ---------------------------------------------------------------------------

@query(
    "agg_hhi_concentration",
    section="2.D",
    oracle="""
WITH spend AS (
  SELECT n.n_name AS nation, o.o_custkey,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, o.o_custkey
), agg AS (
  SELECT nation,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(v) AS DOUBLE) AS t,
         CAST(SUM(CAST(v * v AS DECIMAL(38,0))) AS DOUBLE) AS ss
  FROM spend GROUP BY nation
)
SELECT nation, n_customers,
       round(10000.0 * ss / (t * t), 6) AS hhi
FROM agg
""",
)
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl–Hirschman concentration index per customer nation —
    the antitrust-standard market-concentration measure (HHI > 2500 =
    highly concentrated), here over customer spend shares: HHI =
    10⁴·Σsᵢ² = 10⁴·Σvᵢ²/(Σv)². Both sums are exact on the cents grid
    (the squares on a decimal accumulator — the agg_linear_regression
    overflow posture), cast once to double for the single final
    ratio.

    Scale: a two-level partial aggregation (customer rollup, then
    nation fold) with broadcast dims — one fact shuffle on custkey."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v")
        )
    )
    agg = spend.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("v").cast("double").alias("t"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
    )
    return agg.select(
        "nation",
        "n_customers",
        F.round(10000.0 * F.col("ss") / (F.col("t") * F.col("t")), 6).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# agg_skyline_frontier (round 11) — the skyline operator
# ---------------------------------------------------------------------------

@query(
    "agg_skyline_frontier",
    section="2.D",
    oracle="""
WITH pts AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
), grid AS (
  SELECT x, CAST(MAX(y) AS BIGINT) AS ymax FROM pts GROUP BY x
), ranked AS (
  SELECT x, ymax,
         MAX(ymax) OVER (ORDER BY x DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_best
  FROM grid
)
SELECT round(x / 100.0, 2) AS price, ymax AS quantity
FROM ranked
WHERE prev_best IS NULL OR ymax > prev_best
""",
)
def agg_skyline_frontier(spark, sf_dir):
    """The SKYLINE operator [Börzsönyi, Kossmann & Stocker, ICDE
    2001]: the Pareto frontier of (price, quantity) — lineitems not
    dominated in BOTH dimensions by any other. The naive definition
    is an all-pairs anti-join; the sort-based construction this op
    pins is O(grid): collapse to the max-y per x-grid point (a
    partial agg — duplicates and same-x dominated points die
    map-side), then sweep x descending keeping points whose y STRICTLY
    beats the best y seen at any higher x. Exact integer grids; the
    sweep window runs on the collapsed price grid (bounded distinct
    cents — the weighted-percentile posture), never raw facts.

    Scale: one partial aggregation + one grid-sized prefix max —
    skyline of a trillion rows at grid cost; k-dimensional skylines
    decompose into iterated sweeps of this same shape."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    grid = pts.groupBy("x").agg(F.max("y").cast("long").alias("ymax"))
    w = Window.orderBy(F.col("x").desc()).rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.select("x", "ymax", F.max("ymax").over(w).alias("prev_best"))
    return ranked.filter(
        F.col("prev_best").isNull() | (F.col("ymax") > F.col("prev_best"))
    ).select(
        F.round(F.col("x") / 100.0, 2).alias("price"),
        F.col("ymax").alias("quantity"),
    )
