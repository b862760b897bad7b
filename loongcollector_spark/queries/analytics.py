"""Log analytics over the events stream: as-of and interval joins,
sessions, funnels, sketches (HLL, Count-Min), windowed anomaly
scores, template mining and drift, cohort retention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MD5_SQL
from ..operators import parse
from ..sources.transcripts import load_transcripts
from .common import _TX, _mask_sql
from .registry import query


@query("events", oracle="""
    SELECT e.user_id, e.event_id,
           epoch_us(e.ts) AS ts_us,
           coalesce(p.event_id, -1) AS prev_purchase_id,
           coalesce((epoch_us(e.ts) - epoch_us(p.ts)) / 1000000.0, -1.0)
               AS secs_since_purchase
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
""")
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: attach each error event's most recent
    prior purchase by the same user (inclusive of equal timestamps),
    with -1 sentinels where no purchase precedes. Timestamps exported
    as exact integer microseconds so both engines compare longs."""
    from ..operators.joins import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    out = asof_join(errors, purchases, on="ts", by=["user_id"], suffix="_p")
    l_us = F.unix_micros(F.col("ts").cast("timestamp"))
    r_us = F.unix_micros(F.col("ts_p").cast("timestamp"))
    return out.select(
        "user_id",
        "event_id",
        l_us.alias("ts_us"),
        F.coalesce("purchase_id_p", F.lit(-1)).alias("prev_purchase_id"),
        F.coalesce((l_us - r_us) / F.lit(1000000.0), F.lit(-1.0)).alias(
            "secs_since_purchase"
        ),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    kv AS (
      SELECT regexp_extract(text, 'svc=([^ ]+)', 1) AS svc,
             CAST(regexp_replace(regexp_extract(text, 'dur=([^ ]+)', 1),
                                 'ms$', '') AS BIGINT) AS dur_ms
      FROM transcripts WHERE text LIKE 'level=%'
    )
    SELECT svc, count(*) AS n,
           round(quantile_cont(dur_ms, 0.5), 9) AS p50,
           round(quantile_cont(dur_ms, 0.9), 9) AS p90,
           round(quantile_cont(dur_ms, 0.99), 9) AS p99,
           max(dur_ms) AS max_ms
    FROM kv GROUP BY svc
""")
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service latency rollup over the kv-dialect payloads
    (parse_keyvalue → exact p50/p90/p99/max of the ``dur=...ms``
    field) — the log-analytics aggregate a flusher-side dashboard
    computes. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share linear interpolation, so values match to
    the bit; rounded to 9 dp anyway."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    kv = parse.parse_keyvalue(tx, "text", keys=["svc", "dur"])
    out = kv.withColumn(
        "dur_ms", F.regexp_replace("dur", "ms$", "").cast("long")
    )
    return out.groupBy("svc").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("dur_ms", F.lit(0.5)), 9).alias("p50"),
        F.round(F.percentile("dur_ms", F.lit(0.9)), 9).alias("p90"),
        F.round(F.percentile("dur_ms", F.lit(0.99)), 9).alias("p99"),
        F.max("dur_ms").alias("max_ms"),
    )


@query("events", oracle="""
    WITH brk AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR cast(epoch(ts) AS BIGINT)
                       - cast(epoch(lag(ts) OVER w) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS b
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id,
             cast(sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
               AS session_id
      FROM brk
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(event_id) AS first_event
    FROM sess GROUP BY user_id, session_id
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap):
    per-session event counts."""
    from ..operators.aggregate import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(ev, ["user_id"], "ts", gap_seconds=1800, tie_break_cols=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


@query("events", oracle="""
    WITH s0 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t0
      FROM events
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
                OVER (PARTITION BY user_id) AS t1
      FROM s0
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
                OVER (PARTITION BY user_id) AS t2
      FROM s1
    ),
    u AS (
      SELECT user_id, any_value(t0) AS t0, any_value(t1) AS t1,
             any_value(t2) AS t2
      FROM s2 GROUP BY user_id
    ),
    c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM u)
    SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users, 1.0 AS conv_rate
    FROM c
    UNION ALL
    SELECT 1, 'click', n1,
           round(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0
                      ELSE 0.0 END, 9)
    FROM c
    UNION ALL
    SELECT 2, 'purchase', n2,
           round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1
                      ELSE 0.0 END, 9)
    FROM c
""")
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel view → click → purchase per user over the
    events table; per-step user counts + conversion rates vs a DuckDB
    nested-window twin."""
    from ..operators.aggregate import event_funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = event_funnel(ev, ["view", "click", "purchase"])
    return out.select(
        "step_idx", "step", "n_users",
        F.round("conv_rate", 9).alias("conv_rate"),
    )


def _hll_oracle_sql() -> str:
    from ..operators.sketch import hll_oracle_sql

    parts = []
    for col in ("event_id", "user_id"):
        inner = hll_oracle_sql("events", col, p=10)
        parts.append(f"""
        SELECT '{col}' AS column_name, round(n_est, 6) AS n_est,
               n_registers_used,
               (SELECT count(DISTINCT {col}) FROM events) AS n_exact
        FROM ({inner})
        """)
    return " UNION ALL ".join(parts)


@query("events", oracle=_hll_oracle_sql())
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct counts over the events
    table — high-cardinality column (event_id, raw-estimate branch)
    and low-cardinality column (user_id, linear-counting branch) —
    estimate AND exact count value-matched against the DuckDB twin
    computing bit-identical registers from the shared md5 kernel."""
    from ..operators.sketch import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = []
    for col in ("event_id", "user_id"):
        est = hll_distinct(ev, col, p=10, hash_mode="md5")
        exact = ev.agg(F.countDistinct(col).alias("n_exact"))
        parts.append(
            est.crossJoin(exact).select(
                F.lit(col).alias("column_name"),
                F.round("n_est", 6).alias("n_est"),
                "n_registers_used",
                "n_exact",
            )
        )
    return parts[0].unionAll(parts[1])


def _profile_oracle_sql() -> str:
    cols = [
        ("event_id", "bigint", "num"),
        ("ts", "timestamp_ntz", "ts"),
        ("user_id", "bigint", "num"),
        ("event_type", "string", "str"),
        ("value", "double", "num"),
        ("props", "string", "str"),
    ]
    parts = []
    for name, dtype, kind in cols:
        if kind == "num":
            mn = f"round(min(CAST({name} AS DOUBLE)), 9)"
            mx = f"round(max(CAST({name} AS DOUBLE)), 9)"
            ms = xs = "''"
        elif kind == "ts":
            mn = f"round(min(CAST(epoch_us({name}) AS DOUBLE)), 9)"
            mx = f"round(max(CAST(epoch_us({name}) AS DOUBLE)), 9)"
            ms = xs = "''"
        else:
            mn = mx = "0.0"
            ms = f"coalesce(min({name}), '')"
            xs = f"coalesce(max({name}), '')"
        parts.append(f"""
        SELECT '{name}' AS column_name, '{dtype}' AS dtype,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               round(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 9) AS null_frac,
               count(DISTINCT {name}) AS n_distinct,
               coalesce({mn}, 0.0) AS min_num, coalesce({mx}, 0.0) AS max_num,
               {ms} AS min_str, {xs} AS max_str
        FROM events
        """)
    return " UNION ALL ".join(parts)


@query("events", oracle=_profile_oracle_sql())
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data-quality profile of the events table
    (row/null/exact-distinct counts, numeric/timestamp/string ranges),
    value-matched against a DuckDB twin computing the same statistics."""
    from ..operators.profile import profile_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profile_table(ev)


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    masked AS (
      SELECT {_mask_sql("text")} AS template,
             text AS raw
      FROM transcripts
    )
    SELECT template, count(*) AS n_logs, min(raw) AS example
    FROM masked GROUP BY template HAVING count(*) >= 2
""")
def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log template mining over the transcript corpus: mask variable
    fields (IP/hex/number), one row per distinct template with count +
    deterministic example line; exact string match vs the DuckDB twin
    running the same masking chain."""
    from ..operators.loganalytics import log_templates
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return log_templates(tx, min_count=2)


@query("events", oracle="""
    WITH w AS (
      SELECT event_id, event_type, value,
             avg(value) OVER f AS m,
             stddev_samp(value) OVER f AS s,
             count(value) OVER f AS c
      FROM events
      WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           round(value, 6) AS value_r,
           round(m, 6) AS trail_mean,
           round((value - m) / s, 6) AS zscore
    FROM w
    WHERE c >= 20 AND s > 0 AND abs(round((value - m) / s, 6)) > 3
""")
def q_trailing_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: z-score each event's value
    against the previous 100 same-type events (frame excludes self),
    return the rows with |z| > 3; windows value-matched against
    DuckDB's window engine (6 dp)."""
    from ..operators.timeseries import trailing_zscore

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = trailing_zscore(ev, lookback_rows=100, min_history=20)
    return (
        out.withColumn("z_r", F.round("zscore", 6))
        .filter(F.abs(F.col("z_r")) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value_r"),
            F.round("trail_mean", 6).alias("trail_mean"),
            F.col("z_r").alias("zscore"),
        )
    )


@query("events", oracle="""
    WITH r AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY (epoch_us(ts) // 1000000)
                            RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
               AS rolling_n
      FROM events
    )
    SELECT user_id, max(rolling_n) AS max_burst,
           count(*) AS n_events
    FROM r GROUP BY user_id
""")
def q_rolling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 10-minute event counts (RANGE window over
    epoch seconds, peers included) — summarized per user as the max
    burst and final count to keep the oracle row set small."""
    from ..operators.timeseries import rolling_count

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = rolling_count(ev, window_seconds=600)
    return out.groupBy("user_id").agg(
        F.max("rolling_n").alias("max_burst"),
        F.count("*").alias("n_events"),
    )


@query("events", oracle=f"""
    WITH src AS (SELECT coalesce(CAST(event_type AS VARCHAR), '') AS x FROM events),
    ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT d,
             {MD5_SQL.format(x="x || '#' || d")} % 256 AS b,
             count(*) AS cnt
      FROM src, ds GROUP BY d, b
    ),
    probes AS (
      SELECT DISTINCT x AS item FROM src
      UNION ALL SELECT '___never_seen___'
    ),
    pb AS (
      SELECT item, d,
             {MD5_SQL.format(x="item || '#' || d")} % 256 AS b
      FROM probes, ds
    ),
    est AS (
      SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
      FROM pb LEFT JOIN cells USING (d, b) GROUP BY item
    ),
    exact AS (SELECT x AS item, count(*) AS c FROM src GROUP BY x)
    SELECT item, est, CAST(coalesce(c, 0) AS BIGINT) AS exact_cnt
    FROM est LEFT JOIN exact USING (item)
""")
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries over events.event_type: build a
    4×256 sketch (engine-portable seeded-md5 kernel), estimate every
    distinct event type plus one never-seen probe, and report the
    estimate beside the exact count — registers AND estimates are
    bit-identical in the DuckDB twin, and est ≥ exact by construction
    (the CMS guarantee, assertable from the output itself)."""
    from ..operators.sketch import cms_build, cms_estimate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = cms_build(ev, "event_type", width=256, depth=4, hash_mode="md5")
    probes = (
        ev.select(
            F.coalesce(F.col("event_type").cast("string"), F.lit("")).alias(
                "event_type"
            )
        )
        .distinct()
        .unionAll(
            ev.sparkSession.createDataFrame(
                [("___never_seen___",)], "event_type string"
            )
        )
    )
    est = cms_estimate(sk, probes, "event_type", width=256, depth=4, hash_mode="md5")
    exact = ev.groupBy(
        F.coalesce(F.col("event_type").cast("string"), F.lit("")).alias("item")
    ).agg(F.count("*").alias("exact_cnt"))
    return est.join(exact, "item", "left").select(
        "item", "est", F.coalesce("exact_cnt", F.lit(0)).cast("long").alias("exact_cnt")
    )


@query("events", oracle="""
    WITH v AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM v JOIN p ON v.user_id = p.user_id
                 AND v.s <= p.e AND p.s <= v.e
""")
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (sessions×incidents primitive): ±5-minute
    windows around view and purchase events of the same user that
    overlap, via grid-bucketed equi-join + exact predicate (never a
    per-key cross product); the pair set value-matched against DuckDB's
    plain inequality join on exact integer microseconds."""
    from ..operators.joins import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def win(typ):
        return ev.filter(F.col("event_type") == typ).select(
            "user_id",
            "event_id",
            us.alias("start_us"),
            (us + F.lit(300_000_000)).alias("end_us"),
        )

    out = interval_join(
        win("view"), win("purchase"), by=("user_id",), grid_us=300_000_000
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("event_id_right").alias("purchase_id"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    masked AS (
      SELECT {_mask_sql("text")} AS template, epoch_us(ts) AS us
      FROM transcripts
    ),
    b AS (SELECT min(us) AS mn, max(us) AS mx FROM masked),
    h AS (SELECT template, (2 * us <= mn + mx) AS early FROM masked, b),
    per AS (
      SELECT template,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS n_late
      FROM h GROUP BY template
    ),
    tot AS (SELECT sum(n_early) AS te, sum(n_late) AS tl FROM per)
    SELECT template, n_early, n_late,
           round(n_late / greatest(tl, 1) - n_early / greatest(te, 1), 6)
             + 0.0 AS drift
    FROM per, tot WHERE n_early + n_late >= 5
""")
def q_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-frequency drift between the early and late half of the
    transcript time range (deploy/incident signal): per masked
    template, early/late counts + share drift at 6 dp."""
    from ..operators.loganalytics import template_drift

    tx = load_transcripts(spark, sf_dir)
    return template_drift(tx, min_count=5)


@query("events", oracle="""
    WITH first AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY user_id, day
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS offset_days,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM act JOIN first USING (user_id)
    GROUP BY 1, 2
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle over the events stream: users bucketed
    by first-seen day; per (cohort_day, offset_days) active-user and
    event counts."""
    from ..operators.loganalytics import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev)
