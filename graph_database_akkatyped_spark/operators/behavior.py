"""Behavioral event-stream analytics over the ``events`` journal.

Sequence models (Markov transition matrix), market-style time-series
downsampling (OHLC bars), and rolling-baseline burst detection — the
read-side analytics a journal-sourced store serves once events are
replayed into a table (the reference's journal is the system of record
[R]; these are the batch twins of its projection queries).

All three are window/agg shapes: one shuffle on the partition key,
linear in |events|, no self-joins — the only shapes that survive a
100 TB journal. Determinism notes per operator; every key is
SQL-hash-oracled.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators.graph_build import _top_per_key
from graph_database_akkatyped_spark.numerics import dec2double


# Series stages. Every event-series key (here, in relational_extras'
# anomaly hours and the streaming gap-fill, interpolation and Holt
# twins) is assembled from these: the per-type bucket count, the
# integer-identity z-score, the Holt floor step with its classic init,
# and the hour grid. Column names are data, so one definition serves
# every naming a caller uses.

_HOLT_SHIFT = 1 << 40  # positivity shift: floor == trunc on both engines


def _type_counts(events: DataFrame, unit: str, name: str) -> DataFrame:
    """(event_type, name, n): ``events`` counted per type and
    ``date_trunc(unit, ts)`` bucket."""
    return events.groupBy(
        "event_type", F.date_trunc(unit, "ts").alias(name)
    ).agg(F.count(F.lit(1)).alias("n"))


def _zscore() -> Column:
    """round((n − s/k) / sqrt((k·ss − s²) / (k(k−1))), 4) over the
    columns n, k = bucket count, s = Σn and ss = Σn²: the variance from
    the exact integer identity, then one double division, one sqrt and
    one rounded division — the same IEEE op sequence on both engines."""
    k, s, ss = F.col("k"), F.col("s"), F.col("ss")
    var = (k * ss - s * s) / (k * (k - 1))
    return F.round((F.col("n") - s / k) / F.sqrt(var), 4)


def _holt_step(x: int, l: int, b: int) -> tuple[int, int]:
    """One Holt step (α = 1/4, β = 1/2) in integer milli-units:
    l' = (x + 3(l + b)) // 4, b' = ((l' − l) + b) // 2. Python ``//``
    floors but DuckDB ``//`` truncates, and trend terms go negative, so
    each division carries the ``_HOLT_SHIFT`` positivity shift
    ((num + k·S) // k − S), where floor == trunc."""
    s = _HOLT_SHIFT
    l_new = (x + 3 * (l + b) + 4 * s) // 4 - s
    return l_new, ((l_new - l) + b + 2 * s) // 2 - s


def _holt_fit(x: list[int]) -> Iterator[tuple[int, int]]:
    """The Holt states (l, b) of the milli-unit series ``x``, one per
    point: classic init l₁ = x₁, b₁ = x₂ − x₁ (0 for a one-point
    series), then :func:`_holt_step` through the rest."""
    l, b = x[0], (x[1] - x[0]) if len(x) > 1 else 0
    yield l, b
    for xt in x[1:]:
        l, b = _holt_step(xt, l, b)
        yield l, b


def _hour_grid(events: DataFrame) -> DataFrame:
    """(hr, event_type): every hour from the first to the last hour of
    ``events`` crossed with every event type seen — a ``sequence``
    explode from one aggregated row, O(span·types) however large the
    journal."""
    hr = F.date_trunc("hour", "ts")
    grid = events.agg(F.min(hr).alias("lo"), F.max(hr).alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    return grid.crossJoin(events.select("event_type").distinct())


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: for each ordered pair (prev_type, next_type), the
    transition count and probability.

    Shape: one ``lag`` window partitioned by user (the journal's
    natural key — at 100 TB the events table is already bucketed by
    user for replay, so the window induces no extra shuffle), then a
    small groupBy on the ~|types|² pairs. The per-source totals come
    from a window over the pair aggregate (cardinality |types|², tiny)
    rather than a second scan of the journal.

    Determinism: counts are exact integers; ``p`` is a single division
    of two BIGINTs — one IEEE op, bit-identical on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    wtot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_pair",
        F.sum("n_pair").over(wtot).alias("n_from"),
        (F.col("n_pair") / F.sum("n_pair").over(wtot)).alias("p"),
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
pairs AS (
  SELECT prev_type, next_type, count(*) AS n_pair
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n_pair,
       CAST(sum(n_pair) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
       CAST(n_pair AS DOUBLE)
         / CAST(sum(n_pair) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM pairs
"""


def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event journal into daily OHLC bars per event
    type: open/close = first/last ``value`` by (ts, event_id), high/low
    = max/min, volume = row count, plus the exact-decimal value sum.

    open/close are selected via row_number in BOTH directions inside
    the (type, day) partition — deterministic under ties because the
    order key (ts, event_id) is unique — then folded in the same
    aggregate as min/max/count (one window pass + one groupBy, a single
    shuffle on (type, day)). At 100 TB with date-partitioned storage
    the day column is the partition key, so the shuffle is local to
    each date partition and bars parallelize perfectly across days.

    Determinism: open/close/high/low are stored doubles (no float
    arithmetic at all); the sum is exact DECIMAL before the final
    string-mediated double cast (numerics.dec2double).
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "d", F.date_trunc("day", F.col("ts"))
    )
    w_asc = Window.partitionBy("event_type", "d").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("event_type", "d").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        "d",
        "value",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "d").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("volume"),
        dec2double(F.sum(F.col("value").cast("decimal(30,6)"))).alias(
            "sum_value"
        ),
    )


_OHLC_SQL = """
WITH ranked AS (
  SELECT event_type,
         date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         value,
         row_number() OVER (PARTITION BY event_type,
                              date_trunc('day', CAST(ts AS TIMESTAMP))
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type,
                              date_trunc('day', CAST(ts AS TIMESTAMP))
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, d,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS volume,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM ranked
GROUP BY event_type, d
"""


def events_burst_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-baseline burst detection: each (event_type, hour) bucket
    is z-scored against the TRAILING 24 hours of the same type (RANGE
    frame on epoch seconds, current hour excluded) — the streaming-shaped
    twin of ``events_anomaly_hours``'s global baseline, catching bursts
    a whole-history mean would absorb.

    The RANGE frame runs over the hourly AGGREGATE (|types| × |hours|
    rows), not the raw journal — so the expensive pass is one
    groupBy(type, hour) count, linear and pre-aggregated map-side; the
    window is over a tiny frame. Missing hours contribute nothing
    (RANGE, not ROWS, so gaps don't stretch the baseline); buckets with
    under 12 trailing hours emit NULL z (cold start).

    Determinism: counts are exact integers; variance via the integer
    identity k·Σn² − (Σn)², then one double division, one sqrt, one
    rounded division — the same fixed IEEE op sequence on both engines.
    """
    hourly = _type_counts(
        load_table(spark, sf_dir, "events"), "hour", "hr"
    ).withColumn("ep", F.unix_timestamp("hr"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("ep")
        .rangeBetween(-86400, -3600)
    )
    k = F.count(F.lit(1)).over(w)
    s = F.sum("n").over(w)
    ss = F.sum(F.col("n") * F.col("n")).over(w)
    scored = hourly.select(
        "event_type",
        "hr",
        "n",
        k.alias("k"),
        s.alias("s"),
        ss.alias("ss"),
    )
    z = F.when(
        (F.col("k") >= 12) & (F.col("k") * F.col("ss") > F.col("s") * F.col("s")),
        _zscore(),
    )
    return scored.select(
        "event_type",
        "hr",
        "n",
        F.col("k").alias("trail_hours"),
        z.alias("z"),
        F.coalesce(z > 3, F.lit(False)).alias("is_burst"),
    )


_BURST_SQL = """
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
framed AS (
  SELECT event_type, hr, n,
         count(*) OVER w AS k,
         sum(n) OVER w AS s,
         sum(n * n) OVER w AS ss
  FROM (SELECT *, CAST(epoch(hr) AS BIGINT) AS ep FROM hourly)
  WINDOW w AS (PARTITION BY event_type ORDER BY ep
               RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)
)
SELECT event_type, hr, n, k AS trail_hours,
       CASE WHEN k >= 12 AND k * ss > s * s THEN
         round((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
               / sqrt((CAST(k AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1))), 4)
       END AS z,
       coalesce(CASE WHEN k >= 12 AND k * ss > s * s THEN
         round((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
               / sqrt((CAST(k AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1))), 4)
         > 3 END, FALSE) AS is_burst
FROM framed
"""


_EWMA_LAGS = 8  # trailing window depth (current bucket + 7 lags)


def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event volume per
    type, half-life one bucket: weight 2^-k on the k-th most recent of
    the last 8 OBSERVED buckets, normalized by the weights actually
    present (leading edge uses fewer lags, never zero-padded).

    Shape: one groupBy(type, hour) pre-aggregate (map-side partial,
    linear in the journal), then a lag chain over the tiny hourly frame
    — the same two-tier layout as ``events_burst_zscore``, so at 100 TB
    the expensive pass parallelizes per date partition and the window
    runs on |types| x |hours| rows.

    Determinism: counts are integers and every weight is a power of
    two, so each product is EXACT in binary floating point and the
    8-term sum stays within 53 bits (counts < 2^45) — the numerator and
    denominator are exact dyadic rationals on both engines in ANY
    summation order, and the final value is one IEEE division. No
    decimal detour needed.
    """
    hourly = _type_counts(load_table(spark, sf_dir, "events"), "hour", "hr")
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type",
        "hr",
        "n",
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, _EWMA_LAGS)],
    )
    num = F.col("n").cast("double")
    den = F.lit(1.0)
    for k in range(1, _EWMA_LAGS):
        wt = 2.0 ** -k
        num = num + F.coalesce(
            F.col(f"l{k}").cast("double") * F.lit(wt), F.lit(0.0)
        )
        den = den + F.when(
            F.col(f"l{k}").isNotNull(), F.lit(wt)
        ).otherwise(F.lit(0.0))
    return lagged.select(
        "event_type", "hr", "n", (num / den).alias("ewma")
    )


_EWMA_NUM = " + ".join(
    ["CAST(n AS DOUBLE)"]
    + [
        f"coalesce(CAST(l{k} AS DOUBLE) * CAST({2.0 ** -k} AS DOUBLE), "
        f"CAST(0 AS DOUBLE))"
        for k in range(1, _EWMA_LAGS)
    ]
)
_EWMA_DEN = " + ".join(
    ["CAST(1 AS DOUBLE)"]
    + [
        f"CASE WHEN l{k} IS NOT NULL THEN CAST({2.0 ** -k} AS DOUBLE) "
        f"ELSE CAST(0 AS DOUBLE) END"
        for k in range(1, _EWMA_LAGS)
    ]
)
_EWMA_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, hr, n,
         {', '.join(f'lag(n, {k}) OVER w AS l{k}' for k in range(1, _EWMA_LAGS))}
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr)
)
SELECT event_type, hr, n, ({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma
FROM lagged
"""


def timeseries_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition of event values by HOUR OF DAY per
    type: each (type, hod) cell reports its mean value and the seasonal
    offset from the type's overall mean — the additive profile a
    forecaster subtracts before modeling the residual, and the
    dashboard behind "is 3am traffic shaped differently".

    Determinism: per-cell and per-type sums accumulate in
    DECIMAL(30,6) (exact, order-proof); each mean is ONE IEEE division
    of the exact sum by an integer count, and the offset is one IEEE
    subtraction of identically-computed means — no double ever crosses
    a row boundary. Two hash aggregates (cells, then type totals via a
    tiny broadcast re-join); linear in the journal at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("s_dec"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n").alias("n_all"),
        F.sum("s_dec").cast("decimal(30,6)").alias("s_all"),
    )
    mean_cell = dec2double(F.col("s_dec")) / F.col("n").cast("double")
    mean_all = dec2double(F.col("s_all")) / F.col("n_all").cast("double")
    return (
        cells.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "hod",
            "n",
            mean_cell.alias("mean_value"),
            (mean_cell - mean_all).alias("seasonal_offset"),
        )
    )


_SEASONAL_SQL = """
WITH cells AS (
  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
         count(*) AS n,
         SUM(CAST(value AS DECIMAL(30,6))) AS s_dec
  FROM events GROUP BY 1, 2
),
totals AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_all,
         CAST(SUM(s_dec) AS DECIMAL(30,6)) AS s_all
  FROM cells GROUP BY event_type
)
SELECT c.event_type, c.hod, c.n,
       CAST(CAST(c.s_dec AS VARCHAR) AS DOUBLE) / CAST(c.n AS DOUBLE)
         AS mean_value,
       (CAST(CAST(c.s_dec AS VARCHAR) AS DOUBLE) / CAST(c.n AS DOUBLE))
         - (CAST(CAST(t.s_all AS VARCHAR) AS DOUBLE) / CAST(t.n_all AS DOUBLE))
         AS seasonal_offset
FROM cells c JOIN totals t ON t.event_type = c.event_type
"""


def timeseries_changepoint_cusum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page's CUSUM changepoint detection over per-type hourly event
    counts — the standard level-shift monitor (a mean shift
    accumulates linearly in the CUSUM where a z-score only sees one
    bucket at a time; this catches the slow drifts
    ``events_burst_zscore``'s 24 h window forgives).

    The clamped recursion S⁺_t = max(0, S⁺_{t-1} + dev_t) is not a
    built-in window function, but its closed form is: S⁺_t = P_t −
    min_{i≤t} P_i with P the prefix sum of deviations (and the
    one-sided negative statistic symmetrically via the running max).
    Both are ordinary cumulative windows — so the whole detector is
    two window passes over the hourly aggregate, no recursion, no UDF.

    Exact-integer discipline: deviations are kept in "k-units" —
    dev_t = k·n_t − Σn (BIGINT; k = per-type bucket count) — so every
    prefix sum, running extremum and comparison is exact integer math,
    bit-identical across engines and partitionings (dividing by k
    would make dev the float n_t − μ; multiplying through by k
    defers ALL floating point to the one normalized output column).
    Headroom: |P_t| ≤ k²·max(n) ≈ 5e10 on the fixtures; a 100 TB run
    widens the two products to DECIMAL(38,0) (same recipe as
    PageRank / zipf_fit).

    Output per (event_type, hr): the count, both one-sided CUSUM
    statistics in k-units, the float normalization (÷k → ordinary
    count units, rounded), and ``is_peak`` marking each type's
    changepoint candidate (max of the two statistics, earliest hour
    on ties — deterministic rank-1 window)."""
    hourly = _type_counts(
        load_table(spark, sf_dir, "events"), "hour", "hr"
    ).withColumn("ep", F.unix_timestamp("hr"))
    wtot = Window.partitionBy("event_type")
    word = (
        Window.partitionBy("event_type")
        .orderBy("ep")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        F.count(F.lit(1)).over(wtot) * F.col("n")
        - F.sum("n").over(wtot)
    )
    scored = hourly.select(
        "event_type",
        "hr",
        "ep",
        "n",
        F.count(F.lit(1)).over(wtot).alias("k"),
        dev.alias("dev"),
    )
    p = F.sum("dev").over(word)
    cusum = scored.select(
        "event_type",
        "hr",
        "ep",
        "n",
        "k",
        (p - F.min(p).over(word)).alias("cusum_pos_k"),
        (F.max(p).over(word) - p).alias("cusum_neg_k"),
    )
    stat = F.greatest("cusum_pos_k", "cusum_neg_k")
    wpk = Window.partitionBy("event_type").orderBy(
        stat.desc(), F.asc("ep")
    )
    return cusum.select(
        "event_type",
        "hr",
        "n",
        "cusum_pos_k",
        "cusum_neg_k",
        F.round(stat.cast("double") / F.col("k"), 4).alias("cusum_norm"),
        (F.row_number().over(wpk) == 1).alias("is_peak"),
    )


_CUSUM_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
),
scored AS (
  SELECT event_type, hr, epoch(hr) AS ep, n,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS k,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * n
           - CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS dev
  FROM hourly
),
cusum AS (
  SELECT event_type, hr, ep, n, k,
         CAST(p - min(p) OVER w AS BIGINT) AS cusum_pos_k,
         CAST(max(p) OVER w - p AS BIGINT) AS cusum_neg_k
  FROM (
    SELECT *, CAST(sum(dev) OVER (
        PARTITION BY event_type ORDER BY ep
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
    FROM scored
  )
  WINDOW w AS (PARTITION BY event_type ORDER BY ep
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, hr, n, cusum_pos_k, cusum_neg_k,
       round(CAST(greatest(cusum_pos_k, cusum_neg_k) AS DOUBLE) / k, 4)
         AS cusum_norm,
       row_number() OVER (
         PARTITION BY event_type
         ORDER BY greatest(cusum_pos_k, cusum_neg_k) DESC, ep ASC) = 1
         AS is_peak
FROM cusum
"""


def timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily order-arrival series —
    the seasonality probe a forecasting pipeline runs before picking
    model order (a weekly cycle shows as a lag-7 peak). Lag pairs are
    CALENDAR pairs (day t joined to day t+k), so a missing day drops
    its pairs instead of silently shifting the series — the honest
    treatment for a gappy journal.

    Exact-integer discipline (the CUSUM recipe): with n = #days,
    S = Σx, the mean-centered product is computed in n-units —
    (n·x_t − S)(n·x_{t+k} − S) is BIGINT — so numerator and
    denominator are exact integer sums; the only floating point is
    the final division + 1e6 floor-scale, on doubles < 2⁵³ (exact),
    making the hash partition-proof. Headroom: |n·x − S| ≤ n·max(x)
    ≈ 2e5 on the fixtures, squared ×n ≈ 1e14; a 100 TB run widens
    the products to DECIMAL(38,0) (zipf_fit recipe).

    Shape: one groupBy day (map-side partial agg), a 7-way self-join
    of the TINY daily aggregate (|days| rows, broadcast-able), one
    global reduce per lag. The journal is scanned once."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    n = F.count(F.lit(1)).over(Window.partitionBy())
    s = F.sum("x").over(Window.partitionBy())
    dev = daily.select(
        "day", "x", (n * F.col("x") - s).alias("d"), n.alias("n")
    )
    den = dev.select(
        F.sum(F.col("d") * F.col("d")).alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = dev.alias("a")
    b = dev.alias("b")
    pairs = lags.crossJoin(a).join(
        b,
        F.col("b.day")
        == F.col("a.day") + F.make_dt_interval(F.col("lag")),
        "inner",
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("a.d") * F.col("b.d")).alias("num"),
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            "num",
            F.floor(
                F.lit(1000000.0)
                * (F.col("num").cast("double") / F.col("den").cast("double"))
            )
            .cast("long")
            .alias("acf_micro"),
        )
        .orderBy("lag")
    )


_AUTOCORR_SQL = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
dev AS (
  SELECT day, x,
         CAST(count(*) OVER () AS BIGINT) * x
           - CAST(sum(x) OVER () AS BIGINT) AS d
  FROM daily
),
den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dev),
lags AS (SELECT unnest(range(1, 8)) AS lag),
num AS (
  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.d * b.d) AS BIGINT) AS num
  FROM lags l
  JOIN dev a ON TRUE
  JOIN dev b ON b.day = a.day + to_days(CAST(l.lag AS INTEGER))
  GROUP BY l.lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs, num,
       CAST(floor(1000000.0 * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)))
            AS BIGINT) AS acf_micro
FROM num, den
ORDER BY lag
"""


def timeseries_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD anomaly flags over per-type hourly event counts —
    the robust twin of ``events_burst_zscore``: median and median
    absolute deviation shrug off the very outliers a mean/stddev
    baseline absorbs, so a single viral hour cannot hide itself by
    inflating its own threshold. Flag: |x − med| > 3·MAD.

    Exactness: counts are integers, so the interpolated median is a
    multiple of 0.5 and the MAD (median of 0.5-multiples) a multiple
    of 0.25 — all exactly representable doubles. Reported scaled to
    integers (med2 = 2·med, mad4 = 4·MAD) and the flag compared in
    pure integers (4·|x − med| = |4x − 2·med2| vs 3·mad4), so the
    hash never touches a rounded float. CASTs are exact (integer-
    valued doubles), immune to the DuckDB-rounds/Spark-truncates trap.

    Shape: one groupBy (event_type, hour) over the journal, then two
    aggregations of the TINY hourly frame (|types|·|hours| rows) —
    percentile is exact here because the per-type groups are small by
    construction; at 100 TB the same column feeds approx_percentile
    with a documented error bound instead."""
    hourly = _type_counts(load_table(spark, sf_dir, "events"), "hour", "hr")
    med = hourly.groupBy("event_type").agg(
        (F.percentile("n", F.lit(0.5)) * 2).cast("long").alias("med2")
    )
    devd = hourly.join(F.broadcast(med), "event_type").withColumn(
        "dev4", F.abs(4 * F.col("n") - 2 * F.col("med2"))
    )
    mad = devd.groupBy("event_type").agg(
        F.percentile("dev4", F.lit(0.5)).cast("long").alias("mad4")
    )
    return devd.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "hr",
        "n",
        "med2",
        "mad4",
        (F.col("dev4") > 3 * F.col("mad4")).alias("is_anomaly"),
    )


_MAD_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY 1, 2
),
med AS (
  SELECT event_type,
         CAST(median(n) * 2 AS BIGINT) AS med2
  FROM hourly GROUP BY 1
),
devd AS (
  SELECT h.event_type, h.hr, h.n, m.med2,
         abs(4 * h.n - 2 * m.med2) AS dev4
  FROM hourly h JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, CAST(median(dev4) AS BIGINT) AS mad4
  FROM devd GROUP BY 1
)
SELECT d.event_type, d.hr, d.n, d.med2, a.mad4,
       d.dev4 > 3 * a.mad4 AS is_anomaly
FROM devd d JOIN mad a USING (event_type)
"""


_LTTB_BUCKETS = 60


def timeseries_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (Largest-Triangle-Three-Buckets, Steinarsson
    2013) of the daily-revenue series to ``_LTTB_BUCKETS`` points —
    the standard shape-preserving downsample a dashboard runs before
    plotting a long series. This is the PARALLEL variant: the triangle
    anchor is the PREVIOUS BUCKET'S MEAN rather than the previously
    selected point (true LTTB is a sequential scan; swapping the
    anchor for the bucket mean removes the chain dependency with a
    near-identical selection in practice, and is the variant used when
    the series itself is distributed).

    Exact-integer discipline: x = epoch-day index (BIGINT), y = daily
    revenue in cents (exact DECIMAL -> BIGINT), bucket means are floor
    divisions, and the triangle area comparator |(Ax−Cx)(By−Ay) −
    (Ax−Bx)(Cy−Ay)| is a pure BIGINT expression — selection and hash
    are partition-proof. First/last buckets pin their boundary points
    (LTTB's endpoint rule). Ties break on x.

    Shape: one groupBy day (map-side partial), one ntile window over
    the TINY daily frame, one lag/lead over the 60-row bucket stats,
    one per-bucket argmax window. The journal is scanned once; at
    100 TB everything after the daily rollup is dashboard-sized."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("d")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(30,2)") * 100).cast("long")
        ).alias("y")
    )
    pts = daily.select(
        F.datediff(F.to_date("d"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "y",
    ).withColumn("b", F.ntile(_LTTB_BUCKETS).over(Window.orderBy("x")))
    wb = Window.orderBy("b")
    stats = (
        pts.groupBy("b")
        .agg(
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "b",
            F.lag(F.expr("sx div cnt")).over(wb).alias("mxp"),
            F.lag(F.expr("sy div cnt")).over(wb).alias("myp"),
            F.lead(F.expr("sx div cnt")).over(wb).alias("mxn"),
            F.lead(F.expr("sy div cnt")).over(wb).alias("myn"),
        )
    )
    nb = pts.agg(F.max("b").alias("nb"))
    j = pts.join(stats, "b").crossJoin(F.broadcast(nb))
    a2 = F.abs(
        (F.col("mxp") - F.col("mxn")) * (F.col("y") - F.col("myp"))
        - (F.col("mxp") - F.col("x")) * (F.col("myn") - F.col("myp"))
    )
    key1 = (
        F.when(F.col("b") == 1, F.col("x"))
        .when(F.col("b") == F.col("nb"), -F.col("x"))
        .otherwise(-a2)
    )
    return _top_per_key(j, "b", [key1, "x"]).select(
        F.col("b").alias("bucket"),
        F.col("x").alias("day_x"),
        F.col("y").alias("cents"),
    )


_LTTB_SQL = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
pts AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(d AS DATE))
              AS BIGINT) AS x,
         y,
         ntile({_LTTB_BUCKETS}) OVER (ORDER BY d) AS b
  FROM daily
),
stats AS (
  SELECT b,
         lag(sx // cnt)  OVER (ORDER BY b) AS mxp,
         lag(sy // cnt)  OVER (ORDER BY b) AS myp,
         lead(sx // cnt) OVER (ORDER BY b) AS mxn,
         lead(sy // cnt) OVER (ORDER BY b) AS myn
  FROM (SELECT b, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(count(*) AS BIGINT) AS cnt
        FROM pts GROUP BY b)
),
nb AS (SELECT max(b) AS nb FROM pts)
SELECT b AS bucket, x AS day_x, y AS cents FROM (
  SELECT p.b, p.x, p.y,
         row_number() OVER (
           PARTITION BY p.b
           ORDER BY CASE WHEN p.b = 1 THEN p.x
                         WHEN p.b = nb.nb THEN -p.x
                         ELSE -abs((s.mxp - s.mxn) * (p.y - s.myp)
                                   - (s.mxp - p.x) * (s.myn - s.myp))
                    END, p.x) AS rn
  FROM pts p JOIN stats s USING (b) CROSS JOIN nb
) WHERE rn = 1
"""


_HOLT_SCHEMA = (
    "event_type string, day timestamp, n long, level_q long, trend_q long"
)


def timeseries_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) over per-type
    DAILY event counts — the forecasting workhorse one rung above
    ``timeseries_ewma`` (which has no trend term and goes flat on
    drift). α = 1/4, β = 1/2, classic init l₁ = x₁, b₁ = x₂ − x₁.

    The clamped-free recurrence l_t = α·x_t + (1−α)(l+b) has a closed
    form only in exact arithmetic WITHOUT rounding; we keep integer
    milli-units with a floor at every step (x_q = 1000·n; l' =
    (x_q + 3(l+b)) // 4; b' = ((l'−l) + b) // 2), which makes the
    recursion genuinely sequential per series — exactly the shape
    Spark's ``applyInPandas`` exists for: the journal-scale groupBy
    pre-aggregate is the only pass over raw data; the Python loop runs
    on |days| rows per series and series are the parallelism unit (a
    100 TB journal has millions of series keys, one executor task
    each; here 5 types × 30 days).

    Both recurrence divisions carry the ``_HOLT_SHIFT`` positivity shift
    (:func:`_holt_step`), so the two engines (and any partitioning)
    agree bit-exactly. The oracle is a 30-step recursive CTE replaying
    the identical shifted recurrence."""
    import pandas as pd

    daily = _type_counts(load_table(spark, sf_dir, "events"), "day", "day")

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lev, tr = zip(*_holt_fit((pdf["n"].astype("int64") * 1000).tolist()))
        pdf["level_q"] = pd.Series(lev, dtype="int64")
        pdf["trend_q"] = pd.Series(tr, dtype="int64")
        return pdf[["event_type", "day", "n", "level_q", "trend_q"]]

    return daily.groupBy("event_type").applyInPandas(holt, _HOLT_SCHEMA)


_HOLT_SQL = f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY date_trunc('day', CAST(ts AS TIMESTAMP))
         ) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) * 1000 AS x
  FROM events
  GROUP BY 1, 2
),
holt AS (
  SELECT d1.event_type, CAST(1 AS BIGINT) AS t, d1.x AS level_q,
         COALESCE(d2.x - d1.x, 0) AS trend_q
  FROM daily d1
  LEFT JOIN daily d2 ON d2.event_type = d1.event_type AND d2.t = 2
  WHERE d1.t = 1
  UNION ALL
  SELECT h.event_type, h.t + 1,
         (d.x + 3 * (h.level_q + h.trend_q) + 4 * {_HOLT_SHIFT}) // 4 - {_HOLT_SHIFT},
         ((((d.x + 3 * (h.level_q + h.trend_q) + 4 * {_HOLT_SHIFT}) // 4 - {_HOLT_SHIFT})
           - h.level_q + h.trend_q) + 2 * {_HOLT_SHIFT}) // 2 - {_HOLT_SHIFT}
  FROM holt h
  JOIN daily d ON d.event_type = h.event_type AND d.t = h.t + 1
)
SELECT d.event_type, d.day, d.n, h.level_q, h.trend_q
FROM holt h
JOIN daily d ON d.event_type = h.event_type AND d.t = h.t
"""


def timeseries_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest for ``timeseries_holt`` — the accuracy
    twin every forecaster here ships with (the recall-twin
    discipline): at each step t ≥ 2 the forecast is l_{t−1} + b_{t−1};
    the key reports per-series step count, total absolute error, max
    error and MAE (all in the same exact milli-units as the smoother,
    MAE as one BIGINT division). A forecasting key without a measured
    error is a vibe, not an operator.

    Same applyInPandas shape as the smoother (the recursion is the
    cost; the error is one extra subtraction per step); the oracle
    joins the recursive-CTE Holt states at t−1 to the observation at
    t — no new recursion."""
    import pandas as pd

    daily = _type_counts(load_table(spark, sf_dir, "events"), "day", "day")

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        x = (pdf["n"].astype("int64") * 1000).tolist()
        # step t is forecast by the state at t − 1: l + b
        errs = [abs(xt - (l + b)) for xt, (l, b) in zip(x[1:], _holt_fit(x))]
        if not errs:
            # Single-observation series can't be backtested; the
            # oracle's errs CTE emits no row for it either, so both
            # engines must omit it (round-8 ADVICE behavior.py:924).
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="object"),
                    "n_steps": pd.Series([], dtype="int64"),
                    "total_abs_err_q": pd.Series([], dtype="int64"),
                    "max_abs_err_q": pd.Series([], dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_steps": pd.Series([len(errs)], dtype="int64"),
                "total_abs_err_q": pd.Series([sum(errs)], dtype="int64"),
                "max_abs_err_q": pd.Series([max(errs)], dtype="int64"),
            }
        )

    out = daily.groupBy("event_type").applyInPandas(
        backtest,
        "event_type string, n_steps long, total_abs_err_q long, "
        "max_abs_err_q long",
    )
    return out.select(
        "event_type",
        "n_steps",
        "total_abs_err_q",
        "max_abs_err_q",
        F.expr("total_abs_err_q div n_steps").alias("mae_q"),
    )


_HOLT_BACKTEST_SQL = f"""
WITH holt_states AS ({_HOLT_SQL.replace("SELECT d.event_type, d.day, d.n, h.level_q, h.trend_q",
                                        "SELECT d.event_type, d.day, d.n, h.t, h.level_q, h.trend_q")}),
daily2 AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(count(*) AS BIGINT) * 1000 AS x,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY date_trunc('day', CAST(ts AS TIMESTAMP)))
           AS BIGINT) AS t
  FROM events GROUP BY 1, 2
),
errs AS (
  SELECT d.event_type,
         abs(d.x - (h.level_q + h.trend_q)) AS err
  FROM daily2 d
  JOIN holt_states h
    ON h.event_type = d.event_type AND h.t = d.t - 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_steps,
       CAST(sum(err) AS BIGINT) AS total_abs_err_q,
       CAST(max(err) AS BIGINT) AS max_abs_err_q,
       CAST(sum(err) AS BIGINT) // CAST(count(*) AS BIGINT) AS mae_q
FROM errs
GROUP BY event_type
"""


_CROSTON_MIN_ORDERS = 3  # need >= 2 inter-arrival gaps to smooth


def orders_croston_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972): per
    customer, smooth the demand SIZE (order value, cents) and the
    INTER-ARRIVAL interval (days) as two separate α=1/4 exponential
    averages updated only at demand points, then forecast the demand
    RATE as size/interval — the standard sparse-series forecaster
    (spare parts, reorder timing) where Holt on the zero-filled daily
    series just decays to noise. Complements ``timeseries_holt``
    (dense series) and ``timeseries_ewma`` (no interval model).

    Execution is DELIBERATELY different from the Holt family's
    ``applyInPandas``: per-customer order counts are bounded (tens),
    so the whole recursion fits a JVM-side higher-order FOLD —
    ``collect_list(struct) -> array_sort -> aggregate(...)`` — one
    shuffle, whole-stage codegen, zero Python workers (the pandas
    version measured 5.3 s at sf0.01 on per-group overhead alone; the
    fold is ~10x cheaper and the idiomatic choice whenever the
    sequential state fits per-key arrays — use applyInPandas only
    when series are too long to collect per key, as Holt's daily
    grids are). Exact integer milli/cent units with the
    ``_HOLT_SHIFT`` positivity shift on every floor-div so Spark
    ``div`` (trunc) and DuckDB ``//`` (trunc) agree with Python-floor
    semantics bit-exactly. z init = first order's cents; p init =
    first interval (milli-days); updates z' = (x+3z)//4,
    p' = (i+3p)//4 from the second interval on. Output (customers
    with >= ``_CROSTON_MIN_ORDERS`` orders): smoothed size z_q,
    smoothed interval p_q, rate_q = z·1000 div max(p,1) cents/day.
    Oracle: recursive CTE replaying the identical recurrence over the
    row_number-sequenced orders."""
    orders = load_table(spark, sf_dir, "orders")
    seq = orders.select(
        F.col("o_custkey").alias("c"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("x"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d"),
        "o_orderkey",
    )
    s = _HOLT_SHIFT
    fold = (
        "aggregate(array_sort(os), "
        "named_struct('t', CAST(0 AS BIGINT), 'z', CAST(0 AS BIGINT), "
        "'p', CAST(-1 AS BIGINT), 'pd', CAST(0 AS BIGINT)), "
        "(acc, e) -> CASE WHEN acc.t = 0 THEN "
        "named_struct('t', CAST(1 AS BIGINT), 'z', e.x, "
        "'p', CAST(-1 AS BIGINT), 'pd', e.d) "
        "ELSE named_struct('t', acc.t + 1, "
        f"'z', (e.x + 3 * acc.z + 4 * {s}) div 4 - {s}, "
        "'p', CASE WHEN acc.p = -1 THEN (e.d - acc.pd) * 1000 "
        f"ELSE ((e.d - acc.pd) * 1000 + 3 * acc.p + 4 * {s}) div 4 - {s} "
        "END, 'pd', e.d) END)"
    )
    g = seq.groupBy("c").agg(
        F.expr("collect_list(struct(d, o_orderkey, x))").alias("os")
    )
    return (
        g.where(F.size("os") >= _CROSTON_MIN_ORDERS)
        .select(
            F.col("c").alias("o_custkey"),
            F.size("os").cast("long").alias("n_orders"),
            F.expr(fold).alias("st"),
        )
        .select(
            "o_custkey",
            "n_orders",
            F.col("st.z").alias("z_q"),
            F.col("st.p").alias("p_q"),
            F.expr("st.z * 1000 div greatest(st.p, 1)").alias("rate_q"),
        )
    )


_CROSTON_SQL = f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT o_custkey AS c,
         CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT),
                    o_orderkey) AS BIGINT) AS t,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d
  FROM orders
),
cnt AS (SELECT c, CAST(count(*) AS BIGINT) AS n_orders FROM seq GROUP BY c),
cro AS (
  SELECT c, t, x AS z_q, CAST(NULL AS BIGINT) AS p_q, d AS prev_d
  FROM seq WHERE t = 1
  UNION ALL
  SELECT s.c, s.t,
         (s.x + 3 * h.z_q + 4 * {_HOLT_SHIFT}) // 4 - {_HOLT_SHIFT},
         CASE WHEN h.p_q IS NULL THEN (s.d - h.prev_d) * 1000
              ELSE ((s.d - h.prev_d) * 1000 + 3 * h.p_q
                    + 4 * {_HOLT_SHIFT}) // 4 - {_HOLT_SHIFT} END,
         s.d
  FROM cro h JOIN seq s ON s.c = h.c AND s.t = h.t + 1
)
SELECT cro.c AS o_custkey, cnt.n_orders, cro.z_q, cro.p_q,
       cro.z_q * 1000 // greatest(cro.p_q, 1) AS rate_q
FROM cro JOIN cnt ON cnt.c = cro.c
WHERE cro.t = cnt.n_orders AND cnt.n_orders >= {_CROSTON_MIN_ORDERS}
"""


QUERIES = {
    "timeseries_holt": timeseries_holt,
    "orders_croston_demand": orders_croston_demand,
    "timeseries_holt_backtest": timeseries_holt_backtest,
    "timeseries_downsample_lttb": timeseries_downsample_lttb,
    "events_markov_transitions": events_markov_transitions,
    "timeseries_ohlc": timeseries_ohlc,
    "events_burst_zscore": events_burst_zscore,
    "timeseries_ewma": timeseries_ewma,
    "timeseries_seasonal_profile": timeseries_seasonal_profile,
    "timeseries_changepoint_cusum": timeseries_changepoint_cusum,
    "timeseries_autocorr": timeseries_autocorr,
    "timeseries_anomaly_mad": timeseries_anomaly_mad,
}

ORACLES = {
    "timeseries_holt": _HOLT_SQL,
    "orders_croston_demand": _CROSTON_SQL,
    "timeseries_holt_backtest": _HOLT_BACKTEST_SQL,
    "timeseries_downsample_lttb": _LTTB_SQL,
    "timeseries_autocorr": _AUTOCORR_SQL,
    "timeseries_anomaly_mad": _MAD_SQL,
    "events_markov_transitions": _MARKOV_SQL,
    "timeseries_ohlc": _OHLC_SQL,
    "events_burst_zscore": _BURST_SQL,
    "timeseries_ewma": _EWMA_SQL,
    "timeseries_seasonal_profile": _SEASONAL_SQL,
    "timeseries_changepoint_cusum": _CUSUM_SQL,
}
