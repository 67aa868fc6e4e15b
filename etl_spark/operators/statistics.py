"""Statistical aggregates — CUBE totals, exact interpolated
percentiles, and correlation from exact moment sums. These round out
the reference's dashboard-summary family (web_scheduler.py:4582-4733
computes success-rate/volume summaries in Python loops) with the
grouping-set and distribution shapes Spark gives declaratively.

Cross-engine float discipline (see e05): anything accumulated is
either an integer/DECIMAL (exactly associative — partition order
can't change it) or a single final double expression over those
exact sums. ``corr()``/``stddev()`` built-ins are avoided for parity
because their streaming float accumulation is aggregation-order-
dependent; ``percentile()`` is fine because it sorts then evaluates
ONE interpolation expression (probed bit-equal vs DuckDB's
quantile_cont on the fixtures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.registry import register
from etl_spark.tables import load


@register(
    "a12_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def a12_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets — both
    margins, the cross-tab, and the grand total — expanded inside ONE
    shuffle (Spark duplicates rows per grouping set map-side, with
    partial aggregation before the Exchange). Complements a07's
    ROLLUP and a11's explicit GROUPING SETS."""
    return (
        load(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@register(
    "a13_percentiles",
    oracle="""
        SELECT o_orderpriority,
               CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS p50,
               CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE) AS p90,
               CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
               CAST(MAX(o_totalprice) AS DOUBLE) AS hi
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def a13_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated per-group percentiles (p50/p90) with range
    bounds. Spark's ``percentile`` sorts each group's values and
    evaluates one linear interpolation — bit-equal to DuckDB's
    quantile_cont (probed on the fixtures at both scales). At 100 TB
    exact percentile means a per-group sort, so the scale path is
    ``approx_percentile`` (t-digest, benchmarked under x22's sketch
    family); this is the exact form the approx variant is validated
    against."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )


@register(
    "e06_value_k_correlation",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS sx,
                   SUM(CAST(value AS DECIMAL(18,2))) AS sy,
                   SUM(CAST(json_extract(props, '$.k') AS BIGINT)
                       * CAST(value AS DECIMAL(18,2))) AS sxy,
                   SUM(CAST(json_extract(props, '$.k') AS BIGINT)
                       * CAST(json_extract(props, '$.k') AS BIGINT)) AS sxx,
                   SUM(CAST(value AS DECIMAL(18,2))
                       * CAST(value AS DECIMAL(18,2))) AS syy
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               CAST((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    AS DOUBLE) AS corr_vk
        FROM m WHERE n > 1
    """,
    tags=("events", "agg", "function"),
)
def e06_value_k_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation between event value and the JSON payload's
    ``k`` field, per event type — computed from BIGINT/DECIMAL-exact
    moment sums (n, Σx, Σy, Σxy, Σx², Σy²) folded into one double
    expression. Exactly associative, so any partitioning of the 100 TB
    scan yields the identical answer; one keyed Exchange total. The
    built-in ``corr()`` is deliberately not used: its pairwise float
    update is aggregation-order-dependent and cannot be oracle-exact."""
    ev = load(spark, sf, "events")
    x = F.get_json_object("props", "$.k").cast("bigint")
    y = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    ).filter(F.col("n") > 1)
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return m.select(
        "event_type",
        "n",
        (cov / (F.sqrt(vx) * F.sqrt(vy))).cast("double").alias("corr_vk"),
    )


@register(
    "x108_revenue_trend",
    oracle="""
        WITH monthly AS (
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                        AS BIGINT) AS mi,
                   SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY n.n_name,
                     CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                          AS BIGINT)
        ),
        fit AS (
            SELECT nation,
                   CAST(COUNT(*) AS BIGINT) AS n_months,
                   SUM(mi) AS sx,
                   SUM(mi * mi) AS sxx,
                   SUM(rev) AS sy,
                   SUM(mi * rev) AS sxy
            FROM monthly GROUP BY nation
        )
        SELECT nation, n_months,
               ROUND(CAST(n_months * sxy - sx * sy AS DOUBLE)
                     / CAST(n_months * sxx - sx * sx AS DOUBLE), 6)
                 AS slope_per_month,
               ROUND(CAST(sy AS DOUBLE) / n_months, 6) AS avg_monthly_rev
        FROM fit
    """,
    tags=("statistics", "timeseries"),
    doc="Per-nation OLS revenue trend: exact fixed-point normal equations, one double division.",
)
def x108_revenue_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation revenue TREND — the least-squares slope of monthly
    revenue over the calendar month index, the 'is this market
    growing' number next to x94's point-to-point growth rates. The
    normal-equation sums are EXACT end-to-end: x is an integer month
    index, y an exact decimal revenue, so Σx/Σx² are bigints and
    Σy/Σxy exact decimals — the slope's numerator and denominator are
    exact subtractions and the ONLY float operation is the final
    division (the x85/e09 fixed-point rule applied to regression;
    a float Σxy would be aggregation-order-dependent and could not
    hash-match).

    Scale: dims broadcast; one custkey-less fact aggregate keyed on
    (nation, month) — map-side partial sums — then a nations-sized
    second aggregate. Nothing is window- or fact-joined."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", mi.alias("mi"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    fit = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("mi").alias("sx"),
        F.sum(F.col("mi") * F.col("mi")).alias("sxx"),
        F.sum("rev").alias("sy"),
        F.sum(F.col("mi") * F.col("rev")).alias("sxy"),
    )
    num = (F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (
        F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return fit.select(
        "nation",
        "n_months",
        F.round(num / den, 6).alias("slope_per_month"),
        F.round(F.col("sy").cast("double") / F.col("n_months"), 6).alias(
            "avg_monthly_rev"
        ),
    )


# --- x110: full correlation matrix from one scan -------------------------
#
# The four lineitem measures and their six unordered pairs. Spark
# expressions and the DuckDB oracle are generated from this ONE list so
# the two sides cannot drift.
_X110_VARS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_X110_PAIRS = [
    (_X110_VARS[i], _X110_VARS[j])
    for i in range(len(_X110_VARS))
    for j in range(i + 1, len(_X110_VARS))
]

def _x110_key(x: str, y: str) -> str:
    """Canonical cross-sum column name for the unordered pair."""
    a, b = sorted((x, y))
    return f"s_{a}_{b}"


_X110_SUM_KEYS = sorted(
    {_x110_key(v, v) for v in _X110_VARS}
    | {_x110_key(x, y) for x, y in _X110_PAIRS}
)

_X110_CORR_DUCK = (
    "ROUND(CAST(n * CAST({sxy} AS DOUBLE)"
    " - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE) AS DOUBLE)"
    " / (sqrt(n * CAST({sxx} AS DOUBLE)"
    "         - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
    "    * sqrt(n * CAST({syy} AS DOUBLE)"
    "           - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 6)"
)


def _x110_sum_sql(key: str) -> str:
    # key = "s_<a>_<b>" with a, b drawn from _X110_VARS
    for a in _X110_VARS:
        for b in _X110_VARS:
            if key == f"s_{a}_{b}":
                return (
                    f"SUM(CAST({a} AS DECIMAL(18,2))"
                    f" * CAST({b} AS DECIMAL(18,2))) AS {key}"
                )
    raise ValueError(key)


_X110_ORACLE = (
    """
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
    """
    + ",\n".join(
        f"SUM(CAST({v} AS DECIMAL(18,2))) AS s_{v}" for v in _X110_VARS
    )
    + ",\n"
    + ",\n".join(_x110_sum_sql(k) for k in _X110_SUM_KEYS)
    + """
        FROM lineitem
    )
    """
    + "\nUNION ALL\n".join(
        f"SELECT '{x}' AS var_x, '{y}' AS var_y, n, "
        + _X110_CORR_DUCK.format(
            x=x,
            y=y,
            sxy=_x110_key(x, y),
            sxx=_x110_key(x, x),
            syy=_x110_key(y, y),
        )
        + " AS corr FROM m"
        for x, y in _X110_PAIRS
    )
)


@register(
    "x110_corr_matrix",
    oracle=_X110_ORACLE,
    tags=("statistics", "agg", "scale"),
    doc="Pairwise Pearson correlation matrix of the lineitem measures from one exact-sum scan.",
)
def x110_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """The CORRELATION MATRIX of the lineitem measures — all six
    unordered pairs of (quantity, extendedprice, discount, tax) — from
    ONE scan. e06 proved the exact-moment-sum recipe for a single
    pair; this is the profiling form a feature-engineering pipeline
    actually runs: every Σx, Σx², Σxy accumulates as an exact
    DECIMAL (associative — partition order can't change it), the
    scan produces a single 1-row aggregate, and each pair's Pearson r
    is one fixed dag of double ops over those exact sums (IEEE
    mul/sub/sqrt/div are correctly rounded, so both engines produce
    the identical bits). The built-in ``corr()`` would need six scans
    or a float-accumulating multi-agg — order-dependent, not
    oracle-exact.

    Scale: d variables need d + d(d+1)/2 sum columns in ONE
    map-side-combined aggregate — at 100 TB that's still one pass,
    one 1-row Exchange; the stack() unpivot to pair rows is
    driver-sized. O(d²) columns caps d around ~100 before column
    explosion — past that, switch to the vector form (aggregate a
    d×d Gram matrix as an array, same math)."""
    li = load(spark, sf, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for v in _X110_VARS:
        aggs.append(F.sum(F.col(v).cast("decimal(18,2)")).alias(f"s_{v}"))
    for key in _X110_SUM_KEYS:
        for a in _X110_VARS:
            for b in _X110_VARS:
                if key == f"s_{a}_{b}":
                    aggs.append(
                        F.sum(
                            F.col(a).cast("decimal(18,2)")
                            * F.col(b).cast("decimal(18,2)")
                        ).alias(key)
                    )
    m = li.agg(*aggs)

    def _corr(x: str, y: str):
        n = F.col("n")
        sx = F.col(f"s_{x}").cast("double")
        sy = F.col(f"s_{y}").cast("double")
        cov = n * F.col(_x110_key(x, y)).cast("double") - sx * sy
        vx = n * F.col(_x110_key(x, x)).cast("double") - sx * sx
        vy = n * F.col(_x110_key(y, y)).cast("double") - sy * sy
        return F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6)

    for x, y in _X110_PAIRS:
        m = m.withColumn(f"c_{x}_{y}", _corr(x, y))
    stack = ", ".join(
        f"'{x}', '{y}', c_{x}_{y}" for x, y in _X110_PAIRS
    )
    return m.select(
        F.expr(
            f"stack({len(_X110_PAIRS)}, {stack}) AS (var_x, var_y, corr)"
        ),
        "n",
    )


@register(
    "x111_cusum_changepoint",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY CAST(ts AS DATE)
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days, SUM(cents) AS total
            FROM daily
        ),
        pre AS (
            SELECT d.day, d.cents, t.n_days, t.total,
                   SUM(t.n_days * d.cents - t.total)
                       OVER (ORDER BY d.day) AS p
            FROM daily d CROSS JOIN tot t
        )
        SELECT day, CAST(cents AS BIGINT) AS cents,
               CAST((p - LEAST(CAST(0 AS BIGINT),
                               MIN(p) OVER (ORDER BY day))) // n_days
                    AS BIGINT) AS cusum_up_cents,
               CAST((GREATEST(CAST(0 AS BIGINT),
                              MAX(p) OVER (ORDER BY day)) - p) // n_days
                    AS BIGINT) AS cusum_dn_cents,
               (p - LEAST(CAST(0 AS BIGINT), MIN(p) OVER (ORDER BY day)))
                   > 2 * total AS shift_up,
               (GREATEST(CAST(0 AS BIGINT), MAX(p) OVER (ORDER BY day)) - p)
                   > 2 * total AS shift_dn
        FROM pre
    """,
    tags=("statistics", "timeseries", "anomaly"),
    doc="CUSUM change-point detection over daily revenue via the prefix-sum/running-extremum identity.",
)
def x111_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM CHANGE-POINT detection over the daily purchase-revenue
    series — the classic level-shift monitor (Page 1954), whose
    textbook form s_i = max(0, s_{i-1} + (x_i - μ)) is a sequential
    recurrence Spark windows can't express directly. The identity
    s_i = P_i - min(0, min_{j<=i} P_j), with P the prefix sum of
    deviations, turns it into TWO declarative window functions
    (cumulative sum + running extremum); the mirrored form detects
    downward shifts. Arithmetic is exact end-to-end (the e09
    fixed-point rule): deviations are scaled by n_days (n·x_i −
    total) so the mean needs NO division, every window value is a
    BIGINT, and the one integer division at the edge is over
    non-negative operands (Spark DIV and DuckDB BIGINT // both
    truncate toward zero — the fuzz-pinned e09 rule — so they agree
    for any sign; non-negativity stays as defense). A day flags
    when its accumulated deviation exceeds 2x the mean daily revenue.

    Scale: the fact scan reduces to a days-sized daily aggregate
    (filter pushed to the scan, map-side combine); the unpartitioned
    windows run over THAT series — thousands of rows at 100 TB —
    never over the events themselves. The 1-row totals join is a
    broadcast crossJoin."""
    ev = load(spark, sf, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias(
            "cents"
        )
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").alias("total")
    )
    w_all = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.crossJoin(F.broadcast(tot)).withColumn(
        "p",
        F.sum(F.col("n_days") * F.col("cents") - F.col("total")).over(w_all),
    )
    zero = F.lit(0).cast("bigint")
    s_up = F.col("p") - F.least(zero, F.min("p").over(w_all))
    s_dn = F.greatest(zero, F.max("p").over(w_all)) - F.col("p")
    # integer DIV, not float `/` + cast: a double quotient can round UP
    # across an integer boundary (and loses exactness past 2^53), while
    # DIV matches the oracle's `//` bit-for-bit on these non-negative
    # operands (the e09 advisory rule)
    return pre.withColumn("s_up", s_up).withColumn("s_dn", s_dn).select(
        "day",
        "cents",
        F.expr("s_up DIV n_days").alias("cusum_up_cents"),
        F.expr("s_dn DIV n_days").alias("cusum_dn_cents"),
        (F.col("s_up") > 2 * F.col("total")).alias("shift_up"),
        (F.col("s_dn") > 2 * F.col("total")).alias("shift_dn"),
    )


@register(
    "x112_mad_outliers",
    oracle="""
        WITH v AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        med AS (
            SELECT event_type,
                   CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
            FROM v GROUP BY event_type
        ),
        d AS (
            SELECT v.event_type, v.cents,
                   abs(2 * v.cents - m.med2) AS d2, m.med2
            FROM v JOIN med m ON v.event_type = m.event_type
        ),
        mad AS (
            SELECT event_type,
                   CAST(2 * quantile_cont(d2, 0.5) AS BIGINT) AS mad4
            FROM d GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(d.med2) / 200.0, 6) AS median_value,
               ROUND(MIN(a.mad4) / 400.0, 6) AS mad_value,
               CAST(SUM(CASE WHEN 10000 * d.d2 > 22239 * a.mad4
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               ROUND(CAST(SUM(CASE WHEN 10000 * d.d2 > 22239 * a.mad4
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS outlier_pct
        FROM d JOIN mad a ON d.event_type = a.event_type
        GROUP BY d.event_type
    """,
    tags=("statistics", "anomaly", "quality"),
    doc="Median-absolute-deviation outlier detection per event type, integer-exact thresholds.",
)
def x112_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """ROBUST OUTLIER detection: per event type, flag values more
    than 3 robust standard deviations (3 x 1.4826 x MAD) from the
    median — the outlier gate that survives the very outliers a
    mean/stddev z-score would absorb. Everything that crosses an
    engine boundary is an integer (the e09 rule): cents, DOUBLED
    deviations d2 = |2x − 2·median| (the 0.5-interpolated median of
    bigints is half-integral, so 2x it is exact), a QUADRUPLED MAD,
    and the flag condition 10000·d2 > 22239·mad4, which is exactly
    |x − med| > 3·1.4826·MAD cleared of fractions (d2 = 2|x−med|,
    mad4 = 4·MAD, so the bound is d2 > (3·1.4826/2)·mad4) — no float ever
    compares.

    Scale: two group-keyed aggregates (median, then MAD) are
    groups-sized; each broadcast-joins back onto the fact rows, so
    the fact table is scanned, never shuffled on a row key. Exact
    medians sort per group — at 100 TB swap approx_percentile with a
    documented error bound (the a13 note); the flag algebra is
    unchanged."""
    ev = load(spark, sf, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(
        (2 * F.expr("percentile(cents, 0.5)")).cast("bigint").alias("med2")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "cents",
        "med2",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("d2"),
    )
    mad = d.groupBy("event_type").agg(
        (2 * F.expr("percentile(d2, 0.5)")).cast("bigint").alias("mad4")
    )
    flagged = d.join(F.broadcast(mad), "event_type")
    is_out = F.when(
        10000 * F.col("d2") > 22239 * F.col("mad4"), 1
    ).otherwise(0)
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("med2") / F.lit(200.0), 6).alias("median_value"),
        F.round(F.min("mad4") / F.lit(400.0), 6).alias("mad_value"),
        F.sum(is_out).cast("bigint").alias("n_outliers"),
        F.round(
            F.sum(is_out).cast("double") / F.count(F.lit(1)), 6
        ).alias("outlier_pct"),
    )


X119_BINS = 20  # equi-width histogram bins


@register(
    "x119_price_histogram",
    oracle=f"""
        WITH c AS (
            SELECT o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        rng AS (
            SELECT MIN(cents) AS lo, MAX(cents) AS hi,
                   MAX(cents) - MIN(cents) + 1 AS w
            FROM c
        )
        SELECT c.o_orderpriority,
               CAST(((c.cents - r.lo) * {X119_BINS}) // r.w AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(r.lo + (((c.cents - r.lo) * {X119_BINS}) // r.w * r.w)
                        // {X119_BINS} AS BIGINT) AS bin_lo_cents
        FROM c CROSS JOIN rng r
        GROUP BY c.o_orderpriority,
                 ((c.cents - r.lo) * {X119_BINS}) // r.w,
                 r.lo + (((c.cents - r.lo) * {X119_BINS}) // r.w * r.w)
                     // {X119_BINS}
    """,
    tags=("statistics", "profile", "agg"),
    doc="Exact equi-width histogram of order value per priority, integer bin arithmetic.",
)
def x119_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """EQUI-WIDTH HISTOGRAM of order value per priority — the
    distribution profile x87's min/max/mean can't show (bimodality,
    truncation, heaping) and the storage shape behind optimizer
    statistics and data-drift monitors. Bin arithmetic is ENTIRELY
    integer so both engines bucket identically: values become cents,
    bin = (cents - lo) * B DIV (hi - lo + 1) lands exactly in 0..B-1
    with no float boundary to disagree over (the float formulation
    floor((x-lo)/width) puts boundary values in different bins per
    engine's rounding), and each bin's left edge derives from the
    same integers. Empty bins are absent (sparse form).

    Scale: one 1-row min/max aggregate broadcast-crossed onto the
    scan, then ONE (priority, bin)-keyed aggregate — at most
    groups x B rows out. Two passes over the fact (range, then fill)
    is the textbook tradeoff; a fixed-domain deployment (known
    price range) drops the range pass."""
    c = load(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    rng = c.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        (F.max("cents") - F.min("cents") + 1).alias("w"),
    )
    binned = c.crossJoin(F.broadcast(rng)).withColumn(
        "bin",
        F.expr(f"(cents - lo) * {X119_BINS} DIV w"),
    )
    return binned.groupBy(
        "o_orderpriority",
        "bin",
        F.expr(f"lo + (bin * w) DIV {X119_BINS}").alias("bin_lo_cents"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "x120_weighted_percentiles",
    oracle="""
        WITH c AS (
            SELECT o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        w AS (
            SELECT o_orderpriority, cents,
                   SUM(cents) OVER (PARTITION BY o_orderpriority
                                    ORDER BY cents) AS cumw,
                   SUM(cents) OVER (PARTITION BY o_orderpriority) AS total
            FROM c
        )
        SELECT o_orderpriority,
               ROUND(MIN(CASE WHEN 100 * cumw >= 50 * total
                              THEN cents END) / 100.0, 2) AS p50_revenue_value,
               ROUND(MIN(CASE WHEN 100 * cumw >= 90 * total
                              THEN cents END) / 100.0, 2) AS p90_revenue_value,
               ROUND(MIN(total) / 100.0, 2) AS total_value
        FROM w GROUP BY o_orderpriority
    """,
    tags=("statistics", "window"),
    doc="Revenue-weighted percentiles: the order value below which 50%/90% of revenue sits.",
)
def x120_weighted_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED percentiles — 'half the revenue comes from orders
    under $X' — the distribution question plain (count-weighted)
    percentiles like a13 cannot answer, and the one pricing/capacity
    teams actually ask. The weighted p-th percentile is the smallest
    value whose CUMULATIVE weight reaches p% of the group total; with
    weight = value itself this is the revenue-concentration curve
    read at p. Both engines evaluate the identical integer predicate
    100*cumw >= p*total (cents are BIGINT; the default window frame
    with ORDER BY is RANGE..CURRENT ROW in both engines, so tied
    values share one cumw and the argmin is unambiguous); the only
    division is the display /100.

    Scale: one priority-keyed Exchange for the cumulative window,
    then a groups-sized aggregate. The window sorts per group — the
    same cost class as any exact percentile; the sketch path at
    100 TB is a weighted quantile sketch over the same cents."""
    c = load(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    w_cum = Window.partitionBy("o_orderpriority").orderBy("cents")
    w_all = Window.partitionBy("o_orderpriority")
    staged = c.select(
        "o_orderpriority",
        "cents",
        F.sum("cents").over(w_cum).alias("cumw"),
        F.sum("cents").over(w_all).alias("total"),
    )

    def pick(p: int):
        return F.min(
            F.when(100 * F.col("cumw") >= p * F.col("total"), F.col("cents"))
        )

    return staged.groupBy("o_orderpriority").agg(
        F.round(pick(50) / 100.0, 2).alias("p50_revenue_value"),
        F.round(pick(90) / 100.0, 2).alias("p90_revenue_value"),
        F.round(F.min("total") / 100.0, 2).alias("total_value"),
    )


@register(
    "x121_gini_concentration",
    oracle="""
        WITH cust AS (
            SELECT c.c_mktsegment, o.o_custkey,
                   SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                     AS cents
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        ranked AS (
            SELECT c_mktsegment, cents,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY cents, o_custkey) AS i
            FROM cust
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST((CAST(2 AS HUGEINT) * SUM(i * cents)
                     - (COUNT(*) + 1) * SUM(cents)) * 1000000
                    // (COUNT(*) * CAST(SUM(cents) AS HUGEINT))
                    AS BIGINT) AS gini_ppm
        FROM ranked GROUP BY c_mktsegment
    """,
    tags=("statistics", "agg"),
    doc="Gini coefficient of customer revenue per market segment, exact rank-sum form.",
)
def x121_gini_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """REVENUE CONCENTRATION as a Gini coefficient per market segment
    — the single-number Lorenz curve behind 'do 20% of customers
    carry 80% of revenue', the continuous companion to x98's
    ABC/Pareto bucketing. The rank-sum identity G = 2*Σ(i·x_i)/(n·Σx)
    − (n+1)/n (x ascending, i the 1-based rank) needs one window
    rank and one aggregate; ranks break revenue ties by customer key
    so both engines enumerate the identical permutation, and G is
    emitted as GINI_PPM = (2·Σ(i·x) − (n+1)·Σx)·10^6 DIV (n·Σx) —
    integer arithmetic end-to-end (DECIMAL(38,0) here, HUGEINT in the
    oracle; both engines' integer division TRUNCATES toward zero —
    the rule tests/test_cross_engine_arithmetic.py fuzz-pinned on
    DuckDB 1.0 — and the numerator is ≥ 0 by the rearrangement
    inequality anyway, a good invariant to keep). The r10 form
    ended in ROUND(double, 6), the classic cross-engine rounding
    boundary the driver's exact hash gate flagged (VERDICT r10 #1);
    no double exists anywhere in this plan now.

    Scale: the per-customer rollup is one fact aggregate; the rank
    window partitions by segment over CUSTOMERS (not orders); the
    final aggregate is segments-sized."""
    o = load(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_custkey")
    ranked = cust.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(
            (F.col("i").cast("bigint") * F.col("cents")).cast("decimal(38,0)")
        ).alias("sum_ix"),
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "total_cents",
        F.expr(
            "CAST((CAST(2 AS DECIMAL(38,0)) * sum_ix"
            "      - (n_customers + 1) * CAST(total_cents AS DECIMAL(38,0)))"
            "     * 1000000"
            "     DIV (CAST(n_customers AS DECIMAL(38,0))"
            "          * CAST(total_cents AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("gini_ppm"),
    )
