"""Unit semantics for operators/timeseries.py (resample, gap-fill,
interpolation and the sequence statistics) — the cross-engine registry rows
(ts_resample_ohlc, ts_gapfill, ...) are covered by test_entry_correctness;
these pin the hand-checkable edge semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from trafficbigdatasearch_spark.operators import timeseries


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "k: bigint, ts: timestamp, v: double, id: bigint"
    )


def _t(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


def test_ohlc_open_close_tiebreak(spark):
    # two rows share the same timestamp: the ordering key's id component
    # must break the tie deterministically (id 1 before id 2)
    df = _ev(
        spark,
        [
            (1, _t(9, 0), 10.0, 2),
            (1, _t(9, 0), 20.0, 1),  # same instant, smaller id -> open
            (1, _t(9, 30), 5.0, 3),
            (1, _t(9, 59), 7.0, 4),
        ],
    )
    out = timeseries.resample_ohlc(df, "k", "ts", "v", "id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["volume"]) == (
        20.0, 20.0, 5.0, 7.0, 4,
    )


def test_ohlc_buckets_are_hourly(spark):
    df = _ev(spark, [(1, _t(9, 59), 1.0, 1), (1, _t(10, 0), 2.0, 2)])
    out = timeseries.resample_ohlc(df, "k", "ts", "v", "id")
    assert out.count() == 2


def test_gapfill_fills_interior_gap(spark):
    # observations at 09:00 and 12:00 -> 10:00 and 11:00 are generated,
    # carry 09:00's close, and are flagged unobserved
    df = _ev(spark, [(1, _t(9, 15), 3.0, 1), (1, _t(12, 5), 9.0, 2)])
    rows = {
        r["bucket"].hour: (r["value"], r["is_observed"])
        for r in timeseries.gapfill_ffill(df, "k", "ts", "v", "id").collect()
    }
    assert rows == {
        9: (3.0, 1),
        10: (3.0, 0),
        11: (3.0, 0),
        12: (9.0, 1),
    }


def test_gapfill_close_is_last_by_ordkey(spark):
    # within 09:00, the 09:45 value (not the max) is the carried close
    df = _ev(
        spark,
        [(1, _t(9, 10), 100.0, 1), (1, _t(9, 45), 2.0, 2), (1, _t(11, 0), 5.0, 3)],
    )
    rows = {
        r["bucket"].hour: r["value"]
        for r in timeseries.gapfill_ffill(df, "k", "ts", "v", "id").collect()
    }
    assert rows[9] == 2.0 and rows[10] == 2.0 and rows[11] == 5.0


def test_gapfill_keys_independent_spans(spark):
    # key 2's span must not widen key 1's spine
    df = _ev(spark, [(1, _t(9), 1.0, 1), (2, _t(0), 1.0, 2), (2, _t(23), 2.0, 3)])
    out = timeseries.gapfill_ffill(df, "k", "ts", "v", "id")
    counts = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 1, 2: 24}


def test_interpolate_linear_midpoints(spark):
    # 09:00 -> 3.0, 12:00 -> 9.0: gaps at 10:00/11:00 interpolate to 5, 7
    df = _ev(spark, [(1, _t(9, 0), 3.0, 1), (1, _t(12, 0), 9.0, 2)])
    rows = {
        r["bucket"].hour: (r["value"], r["is_observed"])
        for r in timeseries.gapfill_interpolate(df, "k", "ts", "v", "id").collect()
    }
    assert rows == {9: (3.0, 1), 10: (5.0, 0), 11: (7.0, 0), 12: (9.0, 1)}


def test_interpolate_observed_passthrough_and_tail(spark):
    # observed buckets keep their close untouched; interpolation uses the
    # BUCKET time (not the raw event ts) so the 09:30 observation anchors
    # at 09:00
    df = _ev(
        spark,
        [(1, _t(9, 30), 4.0, 1), (1, _t(11, 0), 8.0, 2), (1, _t(11, 30), 6.0, 3)],
    )
    rows = {
        r["bucket"].hour: r["value"]
        for r in timeseries.gapfill_interpolate(df, "k", "ts", "v", "id").collect()
    }
    assert rows == {9: 4.0, 10: 5.0, 11: 6.0}


def test_ohlc_struct_key_computes_past_decimal_pack_bound(spark):
    """The struct ordering key has NO injectivity bound: an id at 1e10 —
    where the r8 DECIMAL(38,0) pack's guard ABORTED — must now COMPUTE
    with the tie-break still exact (r11 struct-key contract)."""
    df = _ev(spark, [(1, _t(9, 0), 10.0, 10_000_000_000), (1, _t(9, 1), 20.0, 1)])
    out = timeseries.resample_ohlc(df, "k", "ts", "v", "id").collect()
    assert len(out) == 1
    assert (out[0]["open"], out[0]["close"]) == (10.0, 20.0)


def test_ohlc_wide_key_computes_past_old_bigint_bound(spark):
    """Regression (verdict r7 #4): ids >= 1e6 — where the old bigint ×1e6
    pack collided and its guard ABORTED — must now COMPUTE under the
    DECIMAL(38,0) pack, with the id tie-break still exact at the same
    instant.  sf >= 1 event_ids live in this range."""
    df = _ev(
        spark,
        [
            (1, _t(9, 0), 10.0, 1_000_001),
            (1, _t(9, 0), 20.0, 1_000_000),  # same instant, smaller id -> open
            (1, _t(9, 59), 7.0, 9_999_999_999),  # largest legal id -> close
        ],
    )
    out = timeseries.resample_ohlc(df, "k", "ts", "v", "id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["open"], r["close"], r["volume"]) == (20.0, 7.0, 3)

    filled = timeseries.gapfill_ffill(df, "k", "ts", "v", "id").collect()
    assert all(row["value"] is not None for row in filled)


def test_gapfill_struct_key_computes_negative_ids(spark):
    """Negative ids — rejected by the old non-negative pack bound — order
    correctly under the struct key's plain bigint comparison."""
    df = _ev(spark, [(1, _t(9, 0), 10.0, -5), (1, _t(11, 0), 20.0, 1)])
    filled = timeseries.gapfill_ffill(df, "k", "ts", "v", "id").collect()
    assert {r["bucket"].hour: r["value"] for r in filled} == {
        9: 10.0, 10: 10.0, 11: 20.0,
    }


def test_ohlc_guard_raises_on_null_id(spark):
    """Regression (review r6): a NULL id must RAISE (the old per-row guard
    did) — min over a NULL-skipping boolean would silently pass while
    min_by skips the row."""
    import pytest as _pytest

    df = _ev(spark, [(1, _t(9, 0), 10.0, None), (1, _t(9, 1), 20.0, 1)])
    with _pytest.raises(Exception, match="ordering id is NULL"):
        timeseries.resample_ohlc(df, "k", "ts", "v", "id").collect()


def test_ohlc_guard_survives_projection_of_close(spark):
    """The guard is attached to BOTH key-elected columns: selecting only
    'close' (pruning 'open') must still raise on a NULL id."""
    import pytest as _pytest

    df = _ev(spark, [(1, _t(9, 0), 10.0, None), (1, _t(9, 1), 20.0, 1)])
    out = timeseries.resample_ohlc(df, "k", "ts", "v", "id").select(
        "k", "bucket", "close"
    )
    with _pytest.raises(Exception, match="ordering id is NULL"):
        out.collect()


def test_cusum_per_key_hand_case(spark):
    """cusum_per_key: exact integer numerators over the 100·n denominator;
    a level shift drives |cusum| to its extremum at the shift point; the
    final value is always exactly 0 (sum of deviations from the mean);
    NULL values are excluded before indexing."""
    from trafficbigdatasearch_spark.operators import timeseries as TS

    rows = [
        # key 'a': 1,1,1,5,5,5 -> mean 3; shift after idx 3
        (1, "a", "2024-01-01 00:00:01", 1.0),
        (2, "a", "2024-01-01 00:00:02", 1.0),
        (3, "a", "2024-01-01 00:00:03", 1.0),
        (4, "a", "2024-01-01 00:00:04", 5.0),
        (5, "a", "2024-01-01 00:00:05", 5.0),
        (6, "a", "2024-01-01 00:00:06", 5.0),
        (7, "b", "2024-01-01 00:00:01", 2.0),
        (8, "b", "2024-01-01 00:00:02", None),   # excluded
        (9, "b", "2024-01-01 00:00:03", 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts string, value double"
    ).select(
        "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"), "value",
    )
    out = {(r["key"], r["idx"]): r for r in
           TS.cusum_per_key(ev).collect()}
    # key a: n=6, s=1800 cents; prefix at idx 3 = 300 ->
    # cusum_num = 6*300 - 3*1800 = -3600  (C_3 = -3600/600 = -6 cents*..)
    assert int(out[("a", 3)]["cusum_num"]) == -3600
    assert int(out[("a", 6)]["cusum_num"]) == 0    # always closes at 0
    # extremum at the shift point (idx 3) for the two-sided statistic
    mags = {i: abs(int(out[("a", i)]["cusum_num"])) for i in range(1, 7)}
    assert max(mags, key=mags.get) == 3
    # key b: NULL row excluded -> n=2, idx runs 1..2 over ids 7,9
    assert {r for (k, r) in out if k == "b"} == {1, 2}
    assert out[("b", 1)]["id"] == 7 and out[("b", 2)]["id"] == 9
    assert int(out[("b", 2)]["cusum_num"]) == 0


# ---------------------------------------------------------------------------
# hopping_window_agg
# ---------------------------------------------------------------------------


def test_hopping_window_fanout_and_alignment(spark):
    from datetime import datetime

    from trafficbigdatasearch_spark.operators import timeseries as TS

    # one event at 10:37 -> four 1h windows sliding by 15min:
    # starts 09:45, 10:00, 10:15, 10:30
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 10, 37), "a", 2.5)],
        "ts: timestamp, event_type: string, value: double",
    )
    rows = sorted(
        (r["win_start"].strftime("%H:%M"), r["n"], r["sum_cents"])
        for r in TS.hopping_window_agg(df).collect()
    )
    assert rows == [
        ("09:45", 1, 250), ("10:00", 1, 250),
        ("10:15", 1, 250), ("10:30", 1, 250),
    ]


def test_hopping_window_counts_and_null_policy(spark):
    from datetime import datetime

    from trafficbigdatasearch_spark.operators import timeseries as TS

    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 10, 5), "a", 1.0),
            (datetime(2024, 1, 1, 10, 20), "a", 2.0),
            (datetime(2024, 1, 1, 10, 5), "a", None),  # excluded
            (datetime(2024, 1, 1, 10, 5), "b", 4.0),
        ],
        "ts: timestamp, event_type: string, value: double",
    )
    out = TS.hopping_window_agg(df).collect()
    # window starting 10:00 holds both 'a' events
    both = [
        r for r in out
        if r["key"] == "a" and r["win_start"].minute == 0
        and r["win_start"].hour == 10
    ]
    assert len(both) == 1 and both[0]["n"] == 2 and both[0]["sum_cents"] == 300
    # every window is exactly 1 hour
    assert all((r["win_end"] - r["win_start"]).seconds == 3600 for r in out)
    # the NULL-value event contributes to no window
    assert sum(r["n"] for r in out if r["key"] == "a") == 8  # 2 events x 4


def test_seasonal_profile_hand_case(spark):
    from datetime import datetime

    from trafficbigdatasearch_spark.operators import timeseries as TS

    # key 'a': hour 10 -> values 2.0, 4.0 (mean 300c); hour 22 -> 1.0 (100c)
    # all-day mean = 700/3 cents; ratios 300/(700/3)=9/7 and 100/(700/3)=3/7
    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 10, 5), "a", 2.0),
            (datetime(2024, 1, 2, 10, 40), "a", 4.0),
            (datetime(2024, 1, 1, 22, 0), "a", 1.0),
            (datetime(2024, 1, 1, 9, 0), "a", None),  # excluded
        ],
        "ts: timestamp, event_type: string, value: double",
    )
    rows = {r["hod"]: r.asDict() for r in TS.seasonal_profile(df).collect()}
    assert set(rows) == {10, 22}
    assert rows[10]["n"] == 2 and rows[10]["sum_cents"] == 600
    assert rows[10]["mean_cents"] == 300.0
    assert rows[10]["ratio_num"] == 600 * 3 and rows[10]["ratio_den"] == 2 * 700
    assert abs(rows[10]["seasonal_ratio"] - 9 / 7) < 1e-15
    assert abs(rows[22]["seasonal_ratio"] - 3 / 7) < 1e-15


def test_seasonal_profile_zero_total_guard(spark):
    from datetime import datetime

    from trafficbigdatasearch_spark.operators import timeseries as TS

    # +1 and -1 cancel: sum_key = 0 -> ratio NULL, integer pieces intact
    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 10, 0), "z", 1.0),
            (datetime(2024, 1, 1, 11, 0), "z", -1.0),
        ],
        "ts: timestamp, event_type: string, value: double",
    )
    rows = {r["hod"]: r.asDict() for r in TS.seasonal_profile(df).collect()}
    assert rows[10]["seasonal_ratio"] is None
    assert rows[10]["ratio_den"] == 0 and rows[10]["ratio_num"] == 200


def test_acf_hand_cases(spark):
    from datetime import datetime, timedelta

    from trafficbigdatasearch_spark.operators import timeseries as TS

    base = datetime(2024, 1, 1)
    rows = []
    # key 'alt': perfectly alternating 1, -1 -> lag-1 acf = -1
    for i, v in enumerate([1.0, -1.0] * 8):
        rows.append((base + timedelta(minutes=i), i, "alt", v))
    # key 'const': constant series -> zero variance -> NULL
    for i in range(10):
        rows.append((base + timedelta(minutes=i), 100 + i, "const", 5.0))
    # key 'ramp': linear ramp -> lag-1 acf = +1 is wrong (finite-sample);
    # compute brute force below instead
    for i in range(12):
        rows.append((base + timedelta(minutes=i), 200 + i, "ramp", float(i)))
    df = spark.createDataFrame(
        rows, "ts: timestamp, event_id: bigint, event_type: string, value: double"
    )
    out = {r["key"]: r.asDict() for r in TS.acf_per_key(df, lag=1).collect()}
    assert abs(out["alt"]["acf"] - (-1.0)) < 1e-12
    assert out["const"]["acf"] is None
    # brute force for the ramp on the cents lattice
    xs = [i * 100 for i in range(12)]
    pairs = list(zip(xs, xs[1:]))
    n = len(pairs)
    sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
    sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    import math
    expect = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert out["ramp"]["n_pairs"] == n and out["ramp"]["sum_xy"] == sxy
    assert abs(out["ramp"]["acf"] - expect) < 1e-12


def test_acf_lag_two_skips_one(spark):
    from datetime import datetime, timedelta

    from trafficbigdatasearch_spark.operators import timeseries as TS

    base = datetime(2024, 1, 1)
    # period-2 alternation is perfectly correlated at lag 2
    rows = [
        (base + timedelta(minutes=i), i, "alt", float(1 if i % 2 else -1))
        for i in range(16)
    ]
    df = spark.createDataFrame(
        rows, "ts: timestamp, event_id: bigint, event_type: string, value: double"
    )
    out = TS.acf_per_key(df, lag=2).collect()[0].asDict()
    assert out["lag"] == 2 and out["n_pairs"] == 14
    assert abs(out["acf"] - 1.0) < 1e-12


def test_streaks_formulations_agree(spark):
    """The single-exchange lag+cumsum streak formulation (the registered
    w_streaks Spark side) equals a brute-force python islands pass."""
    import random
    from datetime import datetime, timedelta

    from trafficbigdatasearch_spark.queries import standard

    rnd = random.Random(4)
    base = datetime(2024, 1, 1)
    rows = [
        (base + timedelta(minutes=i), i, rnd.choice([1, 1, 2]),
         rnd.choice("ab"))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "ts: timestamp, event_id: bigint, user_id: bigint, event_type: string"
    )
    # reuse the registered query fn against a temp parquet dir
    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {
        (r["user_id"], r["event_type"]): (r["n_streaks"], r["max_len"])
        for r in standard.queries()["w_streaks"](spark, d).collect()
    }
    # python islands
    per_user: dict[int, list[str]] = {}
    for ts, eid, u, t in sorted(rows):
        per_user.setdefault(u, []).append(t)
    expect: dict[tuple, list[int]] = {}
    for u, seq in per_user.items():
        run, cur = 1, seq[0]
        runs: list[tuple[str, int]] = []
        for t in seq[1:]:
            if t == cur:
                run += 1
            else:
                runs.append((cur, run))
                cur, run = t, 1
        runs.append((cur, run))
        for t, length in runs:
            expect.setdefault((u, t), []).append(length)
    for key, lens in expect.items():
        assert out[key] == (len(lens), max(lens)), (key, out[key], lens)
    assert set(out) == set(expect)


def test_local_peaks_hand_case(spark):
    from datetime import datetime, timedelta

    from trafficbigdatasearch_spark.operators import timeseries as TS

    base = datetime(2024, 1, 1)
    vals = [1.0, 3.0, 2.0, 2.0, 5.0, 4.0, 6.0]  # peaks at idx 1 and 4
    rows = [
        (base + timedelta(minutes=i), i, "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "ts: timestamp, event_id: bigint, event_type: string, value: double"
    )
    got = sorted(r["id"] for r in TS.local_peaks(df).collect())
    # idx 1 (3 > 1, 3 > 2) and idx 4 (5 > 2, 5 > 4); idx 6 is an endpoint;
    # the 2,2 plateau is not a peak
    assert got == [1, 4]


def test_negative_id_oracle_recipe_row_key(spark):
    """The _ord_key docstring's negative-id oracle recipe (advice r11),
    mechanically proven: on a corpus where the HUGEINT pack INVERTS the
    struct order — (t=0ms, id=9e9) packs above (t=1ms, id=-9e9) though
    the struct orders it below — DuckDB's ordered aggregate
    first/last(v ORDER BY epoch_ms(ts), id) (lexicographic, exactly the
    struct's field-wise comparison) elects the same open/close winners
    as the engine's struct key, and the legacy pack provably does NOT."""
    import duckdb
    import pandas as pd

    rows = [
        # one bucket; adversarial pair from the advice: the pack compares
        # 0*1e10+9e9 = 9e9 vs 1*1e10-9e9 = 1e9 and flips the order
        (1, dt.datetime(2024, 1, 1, 9, 0, 0, 0), 111.0, 9_000_000_000),
        (1, dt.datetime(2024, 1, 1, 9, 0, 0, 1000), 222.0, -9_000_000_000),
        (1, dt.datetime(2024, 1, 1, 9, 30, 0), 333.0, -7),
    ]
    df = _ev(spark, rows)
    got = timeseries.resample_ohlc(df, "k", "ts", "v", "id").collect()
    assert len(got) == 1
    r = got[0]

    pdf = pd.DataFrame(rows, columns=["k", "ts", "v", "id"])
    con = duckdb.connect()
    con.register("ev", pdf)
    row_key = con.execute(
        """SELECT first(v ORDER BY epoch_ms(ts), id) AS open,
                  last(v ORDER BY epoch_ms(ts), id) AS close
           FROM ev GROUP BY k, date_trunc('hour', ts)"""
    ).fetchone()
    legacy_pack = con.execute(
        """SELECT arg_min(v, epoch_ms(ts)::HUGEINT * 10000000000 + id) AS open
           FROM ev GROUP BY k, date_trunc('hour', ts)"""
    ).fetchone()
    assert (r["open"], r["close"]) == row_key == (111.0, 333.0)
    assert legacy_pack[0] != r["open"]  # the pack really does invert here
