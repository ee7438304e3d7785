"""Windowed aggregates over the `events` table (SURVEY §2.10 R4).

Batch-checkable formulations whose shapes are streaming-compatible:
the same expressions run under Structured Streaming with
``readStream`` + ``withWatermark`` (see streaming/ for that surface);
here they are verified against DuckDB with date_trunc/epoch math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import local_frame, table


def _dec6(col):
    return (F.col(col) if isinstance(col, str) else col).cast("decimal(18,6)")


# --- tumbling window --------------------------------------------------------

_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("events_tumbling_hour", oracle=_TUMBLING_SQL)
def events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window per event_type. Uses F.window (the
    streaming-native operator); window.start == date_trunc('hour') for
    aligned 1h windows."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec6("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --- sliding window ---------------------------------------------------------

_SLIDING_SQL = """
WITH slid AS (
  -- naive-base epoch arithmetic: to_timestamp()::TIMESTAMP would be
  -- session-timezone dependent; this is tz-free on any connection
  SELECT e.*,
         TIMESTAMP '1970-01-01 00:00:00'
           + (CAST(floor(epoch(e.ts) / 600) AS BIGINT) * 600
              - k.k * 600) * INTERVAL 1 SECOND AS window_start
  FROM events e, (SELECT unnest(range(0, 3)) AS k) k
)
SELECT window_start,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM slid
GROUP BY window_start
"""


@query("events_sliding_30m", oracle=_SLIDING_SQL)
def events_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute window sliding every 10 minutes via F.window(... ,
    slideDuration) — each event lands in 3 windows. Oracle mirrors the
    explode-by-offset formulation."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec6("value")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value", "n_users")
    )


# --- session window (gaps-and-islands) --------------------------------------

_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM gaps
)
SELECT user_id, session_id, min(ts) AS session_start,
       max(ts) AS session_end, count(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


@query("events_sessionize", oracle=_SESSION_SQL)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-min inactivity gap — gaps-and-islands
    windows in batch; the streaming twin is F.session_window /
    applyInPandasWithState (streaming/ module). One shuffle on user_id;
    both window functions share the same partitioning."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)  # day-time interval
    is_new = F.when(
        gap.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- pivot ------------------------------------------------------------------

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_PIVOT_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS event_day,
       {', '.join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}" for t in _EVENT_TYPES)}
FROM events GROUP BY 1
"""


@query("events_pivot_daily", oracle=_PIVOT_SQL)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily counts pivoted wide by event_type (explicit value list so
    the output schema is static — required for the oracle and for any
    downstream streaming sink)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("event_day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_EVENT_TYPES))
    )


# --- native session_window (streaming-first operator, batch-checked) --------

_SESSION_NATIVE_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_id
"""


@query("events_session_window", oracle=_SESSION_NATIVE_SQL)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window — Spark's native gap-merging session operator
    (the exact expression a Structured Streaming job would use). The
    oracle reproduces its merge semantics with gaps-and-islands SQL;
    note the native window's `end` is last-event-ts + gap."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec6("value")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# --- analytic window functions: lag deltas ----------------------------------

_VALUE_DELTAS_SQL = """
WITH d AS (
  SELECT user_id, event_id,
         CAST(value AS DOUBLE)
           - lag(CAST(value AS DOUBLE))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
  FROM events
)
SELECT user_id,
       count(delta) AS n_deltas,
       round(avg(abs(delta)), 6) AS avg_abs_delta,
       round(max(delta), 6) AS max_delta
FROM d GROUP BY user_id
"""


@query("user_value_deltas", oracle=_VALUE_DELTAS_SQL)
def user_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-over-event value deltas (lag over the session
    ordering) aggregated to delta stats — lag/lead analytics beyond
    ranking; one shuffle on user_id shared by window and groupBy."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value").cast("double")
    d = ev.withColumn("delta", v - F.lag(v).over(w))
    return d.groupBy("user_id").agg(
        F.count("delta").alias("n_deltas"),
        F.round(F.avg(F.abs("delta")), 6).alias("avg_abs_delta"),
        F.round(F.max("delta"), 6).alias("max_delta"),
    )


# --- hourly anomaly detection (z-score over per-type hourly counts) ---------

ANOMALY_Z = 3.0

_ANOMALY_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         count(*) AS n,
         sum(cnt) AS s,
         sum(cnt * cnt) AS ss
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, CAST(h.hour_start AS TIMESTAMP) AS hour_start, h.cnt,
       round((h.cnt - s * 1.0 / n)
             / sqrt(greatest((ss - s * 1.0 * s / n) / (n - 1), 1e-12)), 4)
         AS z
FROM hourly h JOIN stats USING (event_type)
WHERE n > 1
  AND abs((h.cnt - s * 1.0 / n)
          / sqrt(greatest((ss - s * 1.0 * s / n) / (n - 1), 1e-12)))
      > {ANOMALY_Z}
"""


@query("events_hourly_anomalies", oracle=_ANOMALY_SQL)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: hours whose event count sits more than
    3σ from the event type's hourly mean. Variance is computed from
    exact integer sums (Σcnt, Σcnt² as BIGINT) rather than a streaming
    stddev aggregate, so the float result — and therefore the flagged
    set — is bit-identical across engines AND across partitionings: the
    operator gives the same answer on 1 or 1000 executors. Two
    partial-aggregated shuffles (hourly counts, per-type moments); the
    moments table is event-type-sized → broadcast back."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    var = (F.col("ss") - F.col("s") * F.lit(1.0) * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("cnt") - mean) / F.sqrt(F.greatest(var, F.lit(1e-12)))
    return (
        hourly.join(
            F.broadcast(stats), hourly["event_type"] == stats["et"]
        )
        .filter((F.col("n") > 1) & (F.abs(z) > ANOMALY_Z))
        .select("event_type", "hour_start", "cnt", F.round(z, 4).alias("z"))
    )


# --- clickstream path mining ---------------------------------------------------

PATH_TOP_K = 20

_PATH_TRIGRAMS_SQL = f"""
WITH seq AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
  FROM events GROUP BY user_id
),
tri AS (
  SELECT user_id,
         unnest(list_transform(range(1, len(types) - 1),
                i -> types[i] || ' > ' || types[i + 1] || ' > ' || types[i + 2]))
           AS path
  FROM seq WHERE len(types) >= 3
)
SELECT path, count(*) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri GROUP BY path
ORDER BY n_occurrences DESC, path
LIMIT {PATH_TOP_K}
"""


@query("user_path_trigrams", oracle=_PATH_TRIGRAMS_SQL)
def user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the top event-type trigrams users
    actually walk (e.g. `view > click > purchase`), with occurrence
    and distinct-user counts — the journey-analysis primitive behind
    funnel DISCOVERY (vs `funnel_users`, which checks one known
    funnel).

    Shape: one user_id shuffle builds each user's ordered type
    sequence (sort_array over (ts, event_id, type) structs — per-key
    bounded state, the sessionize assumption); the trigram explode is
    a narrow map (JVM higher-order functions, no Python), counting is
    map-side combinable on the path string, and the top-k is
    TakeOrdered. Per-user sequence length bounds the fan-out at
    len−2 trigrams — linear, never quadratic.
    """
    events = table(spark, sf_dir, "events")
    seq = (
        events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            "user_id",
            F.transform("evs", lambda e: e["event_type"]).alias("types"),
        )
        .filter(F.size("types") >= 3)
    )
    tri = seq.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("types") - 2),
                lambda i: F.concat_ws(
                    " > ",
                    F.element_at("types", i),
                    F.element_at("types", i + 1),
                    F.element_at("types", i + 2),
                ),
            )
        ).alias("path"),
    )
    return (
        tri.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(PATH_TOP_K)
    )


# --- Markov stationary distribution of the event chain ----------------------

MARKOV_TYPES = ["click", "error", "purchase", "signup", "view"]
MARKOV_ITERS = 6


def _markov_sql(src: str, final: str) -> str:
    """Shared SQL text for both engines (same trick as similarity's
    _pc_sql): transition counts pivot to ONE row of 25 cells, rows
    normalize with a left-associated sum, and MARKOV_ITERS power
    iterations of pi' = pi·P unroll as a fixed expression tree —
    bit-identical doubles in both engines. ``final`` = 'union'
    (DuckDB) or 'inline' (Spark — UNION branches would re-execute the
    pipeline once per state)."""
    T = MARKOV_TYPES
    n = len(T)
    idx = range(1, n + 1)
    cells = ", ".join(
        f"CAST(SUM(CASE WHEN prev = '{T[i - 1]}' AND cur = '{T[j - 1]}' "
        f"THEN 1 ELSE 0 END) AS DOUBLE) AS c{i}_{j}"
        for i in idx
        for j in idx
    )
    rowsums = {
        i: " + ".join(f"c{i}_{j}" for j in idx) for i in idx
    }
    pcols = ", ".join(
        f"c{i}_{j} / GREATEST({rowsums[i]}, CAST(1 AS DOUBLE)) AS p{i}_{j}"
        for i in idx
        for j in idx
    )
    parts = [
        "tr AS (SELECT prev, cur FROM (SELECT lag(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev, "
        f"event_type AS cur FROM {src}) t WHERE prev IS NOT NULL)",
        f"m AS (SELECT CAST(count(*) AS BIGINT) AS n_transitions, {cells} "
        "FROM tr)",
        f"p AS (SELECT n_transitions, {pcols} FROM m)",
    ]
    pall = ", ".join(f"p{i}_{j}" for i in idx for j in idx)
    v = {j: "CAST(0.2 AS DOUBLE)" for j in idx}
    prev = "p"
    for it in range(1, MARKOV_ITERS + 1):
        vcols = ", ".join(
            " + ".join(f"({v[i]}) * p{i}_{j}" for i in idx) + f" AS v{j}"
            for j in idx
        )
        parts.append(
            f"i{it} AS (SELECT n_transitions, {pall}, {vcols} FROM {prev})"
        )
        prev = f"i{it}"
        v = {j: f"v{j}" for j in idx}
    if final == "union":
        tail = " UNION ALL ".join(
            f"SELECT '{T[j - 1]}' AS event_type, n_transitions, "
            f"v{j} AS stationary_prob FROM {prev}"
            for j in idx
        )
    else:
        structs = ", ".join(
            f"struct('{T[j - 1]}' AS event_type, "
            f"n_transitions, v{j} AS stationary_prob)"
            for j in idx
        )
        tail = f"SELECT inline(array({structs})) FROM {prev}"
    return "WITH " + ", ".join(parts) + " " + tail


_MARKOV_SQL = _markov_sql("events", "union")


@query("events_markov_stationary", oracle=_MARKOV_SQL)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain: the
    5×5 event-type transition matrix (per-user lag pairs), row-
    normalized, iterated pi' = pi·P six times from uniform — the
    long-run share of attention each event type captures, the
    PageRank-style summary of user_path_trigrams' raw transition
    counts.

    Determinism: transition counts are exact ints; probabilities and
    every unrolled iteration form ONE shared double expression TEXT
    (left-associated 5-term dot products, GREATEST(row, 1) guard for
    absorbing rows) evaluated by both engines — bit parity without
    decimal snapping. The chain here mixes fast (uniform-ish P), so
    six iterations sit well inside double precision of the fixpoint.

    Plan: one user_id window for the lag pairs, ONE 26-column
    conditional aggregate (partial-combinable), then scalar work on a
    1-row frame; inline() emits the 5 output rows from a single scan.
    """
    table(spark, sf_dir, "events").createOrReplaceTempView("_events_markov")
    return spark.sql(_markov_sql("_events_markov", "inline"))


# --- session conversion profile ------------------------------------------------

_SESSION_CONV_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
),
g AS (
  SELECT user_id, session_id, count(*) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM s GROUP BY user_id, session_id
)
SELECT CASE WHEN n_events = 1 THEN '1'
            WHEN n_events <= 3 THEN '2-3'
            WHEN n_events <= 7 THEN '4-7'
            ELSE '8+' END AS session_len_band,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(CAST(SUM(converted) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS conversion_rate
FROM g GROUP BY 1
"""


@query("session_conversion", oracle=_SESSION_CONV_SQL)
def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session length: the 30-min-gap sessions of
    `events_sessionize`, banded by event count, with the share that
    contain a purchase — the 'do longer sessions convert better'
    report a funnel team reads daily.

    Same single user_id exchange as sessionize (both gaps-and-islands
    windows and the session aggregate share the partitioning); the
    band rollup is a 4-key aggregate; the rate is int64 counts in one
    shared double division.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    is_new = F.when(
        gap.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("converted"),
        )
    )
    band = (
        F.when(F.col("n_events") == 1, F.lit("1"))
        .when(F.col("n_events") <= 3, F.lit("2-3"))
        .when(F.col("n_events") <= 7, F.lit("4-7"))
        .otherwise(F.lit("8+"))
    )
    return g.groupBy(band.alias("session_len_band")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "conversion_rate"
        ),
    )


# --- weekly event-mix homogeneity (chi-squared) --------------------------------

_MIX_CELLS = " UNION ALL ".join(
    f"SELECT '{t}' AS event_type" for t in _EVENT_TYPES
)

_MIX_CHI2_SQL = f"""
WITH wk AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type
  FROM events
),
o AS (SELECT week, event_type, CAST(count(*) AS BIGINT) AS obs
      FROM wk GROUP BY week, event_type),
weeks AS (SELECT DISTINCT week FROM wk),
types AS ({_MIX_CELLS}),
dense AS (
  SELECT w.week, t.event_type, COALESCE(o.obs, 0) AS obs
  FROM weeks w CROSS JOIN types t
  LEFT JOIN o ON o.week = w.week AND o.event_type = t.event_type
),
rt AS (SELECT week, CAST(SUM(obs) AS BIGINT) AS r FROM dense GROUP BY week),
ct AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS c
       FROM dense GROUP BY event_type),
nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM dense)
SELECT d.week,
       rt.r AS n_events,
       round(SUM((CAST(d.obs AS DOUBLE) * CAST(nn.n AS DOUBLE)
            - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE))
           * (CAST(d.obs AS DOUBLE) * CAST(nn.n AS DOUBLE)
              - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE))
           / (CAST(nn.n AS DOUBLE) * CAST(rt.r AS DOUBLE)
              * CAST(ct.c AS DOUBLE))), 6) AS chi2_contrib
FROM dense d
JOIN rt ON rt.week = d.week
JOIN ct ON ct.event_type = d.event_type
CROSS JOIN nn
GROUP BY d.week, rt.r
"""


@query("event_mix_chi2", oracle=_MIX_CHI2_SQL)
def event_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly event-type MIX homogeneity: each week's χ² contribution
    against the corpus-wide type distribution ((O·N − r·c)²/(N·r·c)
    per cell, summed over the week's five cells — the classic
    contingency decomposition with every moment an exact int64, so
    the double combine is bit-identical across engines). The
    composition drift detector beside `event_rate_shift`'s volume
    test: a week can keep its volume while its click/error mix shifts.

    Dense cells come from the bounded week-spine × 5-type cross join
    (zero-filled — a missing type IS evidence); everything downstream
    is dimension-sized.

    Each cell value is a pure function of exact int64 moments (so the
    5 addends are bit-identical across engines); the 5-cell sum's
    association order is the one float liberty, masked by the same
    6-dp rounding discipline the BM25 ln-sums use.
    """
    ev = table(spark, sf_dir, "events")
    wk = ev.select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"), "event_type"
    )
    o = wk.groupBy("week", "event_type").agg(F.count(F.lit(1)).alias("obs"))
    weeks = wk.select("week").distinct()
    types = local_frame(spark, [(t,) for t in _EVENT_TYPES], "event_type string")
    dense = (
        weeks.crossJoin(F.broadcast(types))
        .join(o, ["week", "event_type"], "left")
        .select("week", "event_type", F.coalesce("obs", F.lit(0)).alias("obs"))
    )
    rt = dense.groupBy("week").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = dense.groupBy("event_type").agg(F.sum("obs").cast("bigint").alias("c"))
    nn = dense.agg(F.sum("obs").cast("bigint").alias("n"))
    num = F.col("obs").cast("double") * F.col("n").cast("double") - F.col(
        "r"
    ).cast("double") * F.col("c").cast("double")
    cell = (num * num) / (
        F.col("n").cast("double")
        * F.col("r").cast("double")
        * F.col("c").cast("double")
    )
    return (
        dense.join(F.broadcast(rt), "week")
        .join(F.broadcast(ct), "event_type")
        .crossJoin(F.broadcast(nn))
        .groupBy("week", F.col("r").alias("n_events"))
        .agg(F.round(F.sum(cell), 6).alias("chi2_contrib"))
        .select("week", "n_events", "chi2_contrib")
    )


# --- single-pass daily KPI dashboard ---------------------------------------------

_KPI_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(value AS DECIMAL(18,6)) END)
                 AS DECIMAL(18,6)) AS DOUBLE) AS revenue,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS error_rate
FROM events
GROUP BY 1
"""


@query("daily_kpi_dashboard", oracle=_KPI_SQL)
def daily_kpi_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exec daily dashboard in ONE pass: events, DAU, purchases,
    revenue, error rate per day — five KPIs from a single scan and a
    single day-keyed aggregate (the distinct-user count adds its
    (day, user) dedup exchange; everything else is conditional
    map-side-combinable state). The query shape that replaces five
    separate dashboard queries — and five scans — at 100 TB.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("dau"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            )
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("revenue"),
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("error_rate"),
    )


# --- error burst runs ---------------------------------------------------------------

_ERROR_BURST_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         row_number() OVER (PARTITION BY user_id,
                            CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                            ORDER BY ts, event_id) AS rk
  FROM events
),
runs AS (
  SELECT user_id, rn - rk AS grp, CAST(count(*) AS BIGINT) AS run_len
  FROM s WHERE is_err = 1
  GROUP BY user_id, rn - rk
)
SELECT run_len,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM runs GROUP BY run_len
"""


@query("error_burst_runs", oracle=_ERROR_BURST_SQL)
def error_burst_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-error runs per user (the rn − rk gaps-and-islands
    identity: within a user's event sequence, consecutive errors share
    rank-difference), histogrammed by run length — a run of length 1
    is noise, a run of 5 is an incident; the burst profile an SRE
    reads next to `events_hourly_anomalies`' volume view.

    Both rankings and the run aggregate share ONE user_id exchange
    (the second window partitions by (user, flag) — a refinement of
    the first partitioning, no new shuffle); the histogram is bounded
    by the longest run.
    """
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_err = Window.partitionBy("user_id", "is_err").orderBy("ts", "event_id")
    s = base.select(
        "user_id",
        "is_err",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_err).alias("rk"),
    )
    runs = (
        s.filter(F.col("is_err") == 1)
        .groupBy("user_id", (F.col("rn") - F.col("rk")).alias("grp"))
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("run_len").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.countDistinct("user_id").alias("n_users"),
    )
