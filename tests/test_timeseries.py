"""trailing_zscore / rolling_count / log_templates semantics + plans."""

import re
from datetime import datetime, timedelta

import duckdb
import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.loganalytics import log_templates, mask_log_line
from loongcollector_spark.operators.timeseries import rolling_count, trailing_zscore

from test_plans import plan_of


def _series(spark, values, typ="m"):
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=i), typ, float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, event_type: string, value: double"
    )


def test_zscore_flags_spike_and_excludes_self(spark):
    # 30 flat values then one spike: the spike must score against the
    # flat history (frame excludes current row → std stays ~0.5-ish)
    vals = [10.0, 11.0] * 15 + [50.0]
    df = _series(spark, vals)
    out = trailing_zscore(
        df, lookback_rows=100, min_history=10
    ).orderBy("event_id").collect()
    spike = out[-1]
    assert spike["zscore"] is not None and spike["zscore"] > 3
    # early rows have < min_history predecessors → NULL
    assert all(r["zscore"] is None for r in out[:10])
    # flat rows are unremarkable
    assert all(
        r["zscore"] is None or abs(r["zscore"]) < 2 for r in out[:-1]
    )


def test_zscore_zero_std_guard(spark):
    df = _series(spark, [5.0] * 40)
    out = trailing_zscore(df, min_history=10).collect()
    assert all(r["zscore"] is None for r in out)  # std == 0 everywhere


def test_zscore_partitions_by_key(spark):
    a = _series(spark, [1.0] * 25, "a")
    b = _series(spark, [100.0] * 25, "b")
    out = trailing_zscore(a.unionAll(b), min_history=10).collect()
    # keys score independently: neither side sees the other's level
    assert all(r["zscore"] is None for r in out)


def test_rolling_count_range_semantics(spark):
    base = datetime(2024, 1, 1)
    rows = [
        (1, base, 7),
        (2, base + timedelta(seconds=30), 7),
        (3, base + timedelta(seconds=30), 7),  # tie: peer of row 2
        (4, base + timedelta(seconds=100), 7),  # rows 1-3 expired (60s)
        (5, base, 8),  # other key independent
    ]
    df = spark.createDataFrame(rows, "event_id: long, ts: timestamp, user_id: long")
    out = {
        r["event_id"]: r["rolling_n"]
        for r in rolling_count(df, window_seconds=60).collect()
    }
    assert out[1] == 1
    # RANGE: tied timestamps are peers — both see both
    assert out[2] == 3 and out[3] == 3
    assert out[4] == 1
    assert out[5] == 1


def test_mask_log_line(spark):
    df = spark.createDataFrame(
        [
            ("GET /api/v2/users/12345 from 10.0.42.7 took 3.5ms id=deadbeef99",),
            ("GET /api/v2/users/999 from 192.168.0.1 took 0.2ms id=cafebabe01",),
        ],
        ["text"],
    )
    masked = df.select(mask_log_line(F.col("text")).alias("m")).collect()
    # 'v2' survives (no boundary inside a word → a version string is a
    # template constant); '3.5ms' fully masks
    assert (
        masked[0]["m"]
        == "GET /api/v2/users/<NUM> from <IP> took <NUM>ms id=<HEX>"
    )
    assert masked[0]["m"] == masked[1]["m"]
    t = log_templates(df).collect()
    assert len(t) == 1 and t[0]["n_logs"] == 2
    # deterministic example: lexicographically smallest raw line
    assert t[0]["example"].startswith("GET /api/v2/users/12345")


def test_timeseries_plans_single_exchange_no_python(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for df in (
        trailing_zscore(ev),
        rolling_count(ev),
    ):
        plan = plan_of(df)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
        assert "EvalPython" not in plan
    tplan = plan_of(log_templates(ev.withColumnRenamed("props", "text"),
                                  text_col="text"))
    assert len(re.findall(r"\(\d+\) Exchange", tplan)) == 1
    assert "Window" not in tplan


# ------------------------------------------- edges and NULL inputs


def test_rolling_count_block_engine_bucket_edges(spark):
    """Hand case across minute edges: W=60, events at 0/59/61/121.
    61 sees 59+61 (0 is outside [1, 61]); 121 sees 61+121 (61 is
    exactly W before -> inclusive)."""
    base = datetime(2024, 1, 1)
    rows = [
        (1, base, 7),
        (2, base + timedelta(seconds=59), 7),
        (3, base + timedelta(seconds=61), 7),
        (4, base + timedelta(seconds=121), 7),
    ]
    df = spark.createDataFrame(rows, "event_id: long, ts: timestamp, user_id: long")
    out = {
        r["event_id"]: r["rolling_n"]
        for r in rolling_count(df, window_seconds=60).collect()
    }
    assert out == {1: 1, 2: 2, 3: 2, 4: 2}


def test_block_engines_null_parity_with_window(spark):
    """NULL keys, NULL values and NULL timestamps: both operators equal
    DuckDB's window SQL over the same rows. NULL keys are a real
    partition, the z-score history counts non-NULL VALUES (not frame
    rows), and NULL-ts rows are one peer group (Spark sorts NULLs
    first ascending, so the DuckDB twin says NULLS FIRST)."""
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # key "a": first 10 values NULL, then 20 real — with
    # min_history=15 the cnt=count(value) gate must stay shut until 15
    # NON-NULL predecessors exist
    for i in range(30):
        rows.append(
            ("a", base + timedelta(seconds=i), None if i < 10 else float(i), eid)
        )
        eid += 1
    # NULL key: 24 scored rows of its own
    for i in range(24):
        rows.append((None, base + timedelta(seconds=i), float(i * i % 7), eid))
        eid += 1
    # NULL timestamps inside key "a" (ordered first, by event_id)
    for i in range(3):
        rows.append(("a", None, float(100 + i), eid))
        eid += 1
    schema = "event_type string, ts timestamp, value double, event_id long"
    df = spark.createDataFrame(rows, schema)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_type VARCHAR, ts TIMESTAMP, value DOUBLE,"
        " event_id BIGINT)"
    )
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?)", rows)

    cols = ["trail_mean", "trail_std", "zscore"]
    got = {
        r["event_id"]: tuple(r[c] for c in cols)
        for r in trailing_zscore(df, lookback_rows=8, min_history=6)
        .select("event_id", *cols)
        .collect()
    }
    want = {
        r[0]: r[1:]
        for r in con.execute("""
            WITH w AS (
              SELECT event_id, value,
                     avg(value) OVER f AS m,
                     stddev_samp(value) OVER f AS s,
                     count(value) OVER f AS c
              FROM ev
              WINDOW f AS (PARTITION BY event_type
                           ORDER BY ts ASC NULLS FIRST, event_id
                           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_id,
                   CASE WHEN c >= 6 AND s > 0 THEN m END,
                   CASE WHEN c >= 6 AND s > 0 THEN s END,
                   CASE WHEN c >= 6 AND s > 0 THEN (value - m) / s END
            FROM w
        """).fetchall()
    }
    assert set(got) == set(want) and len(got) == len(rows)
    scored = [k for k, v in want.items() if v[2] is not None]
    assert any(k >= 30 for k in scored)  # NULL-key rows are scored
    for k in want:
        for c, va, vb in zip(cols, want[k], got[k]):
            assert (va is None) == (vb is None), (k, c, va, vb)
            if va is not None:
                assert vb == pytest.approx(va, rel=1e-9, abs=1e-9), (k, c)

    # rolling_count: NULL ts rows + NULL key rows
    rows2 = [
        (1, base, 7),
        (2, base + timedelta(seconds=30), 7),
        (3, None, 7),
        (4, None, 7),
        (5, base, None),
        (6, None, None),
    ]
    df2 = spark.createDataFrame(
        rows2, "event_id: long, ts: timestamp, user_id: long"
    )
    con.execute("CREATE TABLE rc (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)")
    con.executemany("INSERT INTO rc VALUES (?, ?, ?)", rows2)
    got2 = {
        r["event_id"]: r["rolling_n"]
        for r in rolling_count(df2, window_seconds=60).collect()
    }
    want2 = dict(
        con.execute("""
            SELECT event_id,
                   count(*) OVER (PARTITION BY user_id
                                  ORDER BY (epoch_us(ts) // 1000000)
                                           ASC NULLS FIRST
                                  RANGE BETWEEN 60 PRECEDING
                                        AND CURRENT ROW)
            FROM rc
        """).fetchall()
    )
    assert got2 == want2 and len(got2) == 6
    assert got2[3] == got2[4] == 2  # the NULL-ts peer group, counted once
