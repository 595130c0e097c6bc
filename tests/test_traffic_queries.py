"""Golden tests: the three reference entry points vs the pure-Python oracle
(tests/traffic_sim.py) over the deterministic reference-layout CSV fixtures.

Covers FIXTURES.md §A.5: multi-month union + dedup, single-month no-dedup,
month/closed-range boundaries, empty bbox, the 2016-06 clamp, the today-filter
quirk, malformed rows and sentinel dates.
"""

from __future__ import annotations

import re
import shutil

import pytest

from tests import traffic_sim
from trafficbigdatasearch_spark.engine import TrafficEngine

BBOX = (116.0, 118.0, 36.0, 39.0)  # lon_lo, lon_hi, lat_lo, lat_hi
EMPTY_BBOX = (10.0, 11.0, 1.0, 2.0)


@pytest.fixture(scope="module")
def engine(spark, traffic_dir):
    return TrafficEngine(spark, str(traffic_dir), layout="reference_csv", mode="parity")


def _args(bbox):
    lon_lo, lon_hi, lat_lo, lat_hi = bbox
    # facade order: lon_upper, lon_lower, lat_upper, lat_lower
    return (lon_hi, lon_lo, lat_hi, lat_lo)


def test_accident_count_multi_month(engine, traffic_dir):
    got = {tuple(r) for r in engine.accident_count_df(*_args(BBOX), "2016-07-01", "2016-09-15").collect()}
    want = traffic_sim.oracle_accident_count(traffic_dir, BBOX, "2016-07-01", "2016-09-15")
    assert got == want
    assert len(got) > 0


def test_accident_count_empty_bbox(engine, traffic_dir):
    got = {tuple(r) for r in engine.accident_count_df(*_args(EMPTY_BBOX), "2016-07-01", "2016-09-15").collect()}
    assert got == set()


def test_overspeed_multi_month(engine, traffic_dir):
    got = {tuple(r) for r in engine.overspeed_count_df(*_args(BBOX), "2016-06-15", "2016-08-02").collect()}
    want = traffic_sim.oracle_overspeed(traffic_dir, BBOX, "2016-06-15", "2016-08-02")
    assert got == want
    assert len(got) > 0


def test_overspeed_single_month_keeps_duplicates(engine, traffic_dir):
    got = {tuple(r) for r in engine.overspeed_count_df(*_args(BBOX), "2016-07-01", "2016-07-31").collect()}
    want = traffic_sim.oracle_overspeed(traffic_dir, BBOX, "2016-07-01", "2016-07-31")
    assert got == want


def test_overspeed_month_end_boundary(engine, traffic_dir):
    # end on a month's last day: end+1d == next month's midnight (quirk §2.10.3)
    got = {tuple(r) for r in engine.overspeed_count_df(*_args(BBOX), "2016-06-15", "2016-07-31").collect()}
    want = traffic_sim.oracle_overspeed(traffic_dir, BBOX, "2016-06-15", "2016-07-31")
    assert got == want


def _canon_avg(rows):
    return {(tp, ct, h, round(a, 9)) for tp, ct, h, a in rows}


def test_avgspeed_trailing_window(engine, traffic_dir):
    got = _canon_avg(tuple(r) for r in engine.average_speed_df(*_args(BBOX), "2016-12-15").collect())
    want = _canon_avg(traffic_sim.oracle_avgspeed(traffic_dir, BBOX, "2016-12-15"))
    assert got == want
    assert len(got) > 0


def test_avgspeed_clamp(engine, traffic_dir):
    # date within 30d of the 2016-06 availability floor -> history clamped
    got = _canon_avg(tuple(r) for r in engine.average_speed_df(*_args(BBOX), "2016-06-20").collect())
    want = _canon_avg(traffic_sim.oracle_avgspeed(traffic_dir, BBOX, "2016-06-20"))
    assert got == want


def test_json_facade(engine):
    rows = engine.get_accident_count(*_args(BBOX), "2016-07-01", "2016-09-15")
    assert all(r.startswith("{") for r in rows)


# --- parquet layout: ingest once, results must equal the CSV layout ---------


@pytest.fixture(scope="module")
def parquet_engines(spark, traffic_dir, tmp_path_factory):
    """(csv_engine, parquet_engine) pair in the same cleaning mode."""
    from trafficbigdatasearch_spark.sources.parquet import ingest_reference_layout

    out = tmp_path_factory.mktemp("traffic_parquet")
    months = ingest_reference_layout(
        spark, str(traffic_dir), str(out), mode="parity"
    )
    assert months, "fixture months not discovered"
    return (
        TrafficEngine(spark, str(traffic_dir), layout="reference_csv", mode="parity"),
        TrafficEngine(spark, str(out), layout="parquet", mode="parity"),
    )


def test_parquet_layout_equals_csv_layout(parquet_engines):
    csv_eng, pq_eng = parquet_engines
    for method, args in (
        ("get_accident_count", _args(BBOX) + ("2016-07-01", "2016-09-15")),
        ("get_overspeed_count", _args(BBOX) + ("2016-06-15", "2016-08-02")),
        ("get_average_speed", _args(BBOX) + ("2016-12-15",)),
    ):
        got = sorted(getattr(pq_eng, method)(*args))
        want = sorted(getattr(csv_eng, method)(*args))
        assert got == want, method


def test_zordered_ingest_identical_results_and_bbox_skipping(
    spark, traffic_dir, tmp_path_factory
):
    """Opt-in Z-ordered accident layout (VERDICT r3 #8): results stay
    row-identical to the plain layout, and the accident files become compact
    lon/lat tiles — a small bbox touches a small fraction of the z-ordered
    files where the plain layout's files span the full extent (parquet
    min/max footer stats, the thing Spark's row-group pushdown and any
    file-index layer prune on)."""
    import glob

    import pyarrow.parquet as pq

    from trafficbigdatasearch_spark.sources.parquet import (
        ingest_reference_layout,
    )

    out = tmp_path_factory.mktemp("traffic_parquet_z")
    ingest_reference_layout(
        spark,
        str(traffic_dir),
        str(out),
        mode="parity",
        zorder=True,
        zorder_rows_per_file=40,
    )
    z_eng = TrafficEngine(spark, str(out), layout="parquet", mode="parity")
    csv_eng = TrafficEngine(
        spark, str(traffic_dir), layout="reference_csv", mode="parity"
    )
    args = _args(BBOX) + ("2016-07-01", "2016-09-15")
    assert sorted(z_eng.get_accident_count(*args)) == sorted(
        csv_eng.get_accident_count(*args)
    )

    def boxes(path):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            lo = {}
            hi = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    n = col.path_in_schema
                    if n not in ("CASELONGITUDE", "CASELATITUDE"):
                        continue
                    if col.statistics is None or col.statistics.min is None:
                        continue
                    lo[n] = min(lo.get(n, float("inf")), col.statistics.min)
                    hi[n] = max(hi.get(n, float("-inf")), col.statistics.max)
            if lo:
                out.append((lo, hi))
        return out

    zb = boxes(str(out / "accident"))
    assert len(zb) >= 8, "fixture too small to produce multiple z files"
    # a small box in the middle of the fixture's lon/lat extent
    lon0, lat0 = 116.8, 37.2
    touched = sum(
        1
        for lo, hi in zb
        if lo["CASELONGITUDE"] <= lon0 + 0.2
        and hi["CASELONGITUDE"] >= lon0
        and lo["CASELATITUDE"] <= lat0 + 0.2
        and hi["CASELATITUDE"] >= lat0
    )
    assert touched <= len(zb) // 2, (touched, len(zb))


def _month_partition_filters(df) -> set[tuple[int, ...]]:
    """The ``month IN (...)`` value lists in the plan's scan partition
    filters."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        tuple(int(v) for v in m.split(","))
        for pf in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        for m in re.findall(r"month#\d+ IN \(([\d,\s]+)\)", pf)
    }


def test_parquet_layout_prunes_months(parquet_engines):
    """The month filter must reach the scan as a partition filter — the
    Catalyst replacement for the reference's driver-side path loop — and two
    windows planned on the same engine each carry their own months."""
    _, pq_eng = parquet_engines
    for dates, months in (
        (("2016-06-15", "2016-07-02"), (201606, 201607)),
        (("2016-08-10", "2016-10-05"), (201608, 201609, 201610)),
    ):
        df = pq_eng.overspeed_count_df(*_args(BBOX), *dates)
        assert _month_partition_filters(df) == {months}, dates


def test_parquet_facade_plans_launch_no_jobs(spark, parquet_engines):
    """Each parquet table is opened once per engine: after one warm call per
    entry point, building a plan for a new window runs no Spark job (no
    directory listing, no schema inference)."""
    _, pq_eng = parquet_engines
    pq_eng.get_accident_count(*_args(BBOX), "2016-07-01", "2016-09-15")
    pq_eng.get_overspeed_count(*_args(BBOX), "2016-06-15", "2016-08-02")
    pq_eng.get_average_speed(*_args(BBOX), "2016-12-15")
    sc = spark.sparkContext
    jobs = {}
    for name, build in (
        ("accident", lambda: pq_eng.accident_count_df(*_args(BBOX), "2016-08-03", "2016-11-20")),
        ("overspeed", lambda: pq_eng.overspeed_count_df(*_args(BBOX), "2016-09-02", "2016-11-11")),
        ("avgspeed", lambda: pq_eng.average_speed_df(*_args(BBOX), "2016-10-09")),
    ):
        group = f"test-plan-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {"accident": 0, "overspeed": 0, "avgspeed": 0}


def test_facade_plan_py4j_round_trips(parquet_engines, monkeypatch):
    """Facade plans are built from SQL text, not PySpark ``Column`` trees,
    whose every call adds call-site capture round trips: building a plan for
    a new window on a warm engine stays within a small py4j budget."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    _, pq_eng = parquet_engines
    pq_eng.get_accident_count(*_args(BBOX), "2016-07-01", "2016-09-15")
    pq_eng.get_overspeed_count(*_args(BBOX), "2016-06-15", "2016-08-02")
    pq_eng.get_average_speed(*_args(BBOX), "2016-12-15")
    calls = [0]
    send = ClientServerConnection.send_command
    building_thread = threading.get_ident()

    def counted(self, command):
        # other threads release dropped Java objects through py4j too; only
        # the building thread's round trips are the build's
        calls[0] += threading.get_ident() == building_thread
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    trips = {}
    for name, build in (
        ("accident", lambda: pq_eng.accident_count_df(*_args(BBOX), "2016-08-04", "2016-11-21")),
        ("overspeed", lambda: pq_eng.overspeed_count_df(*_args(BBOX), "2016-09-03", "2016-11-12")),
        ("avgspeed", lambda: pq_eng.average_speed_df(*_args(BBOX), "2016-10-10")),
    ):
        # nor may a cyclic-garbage pass release earlier objects mid-build
        gc.collect()
        gc.disable()
        calls[0] = 0
        try:
            build()
        finally:
            gc.enable()
        trips[name] = calls[0]
    assert trips["accident"] <= 40, trips
    assert trips["overspeed"] <= 150, trips
    assert trips["avgspeed"] <= 300, trips


@pytest.mark.parametrize("layout", [0, 1], ids=["csv", "parquet"])
@pytest.mark.parametrize("method", ["accident_count_df", "overspeed_count_df", "average_speed_df"])
def test_non_numeric_bbox_raises_at_plan_build(parquet_engines, layout, method):
    """Bbox values become SQL literals through ``float()``: a non-number is
    rejected while the plan is built, before any SQL text exists."""
    eng = parquet_engines[layout]
    dates = ("2016-12-15",) if method == "average_speed_df" else ("2016-07-01", "2016-09-15")
    with pytest.raises(ValueError):
        getattr(eng, method)("1) OR (1=1", 116.0, 39.0, 36.0, *dates)


def _bbox_rows(eng, bbox):
    return (
        sorted(eng.get_accident_count(*_args(bbox), "2016-07-01", "2016-09-15")),
        sorted(eng.get_overspeed_count(*_args(bbox), "2016-06-15", "2016-08-02")),
    )


@pytest.mark.parametrize("layout", [0, 1], ids=["csv", "parquet"])
def test_infinite_bbox_edges_equal_full_extent(parquet_engines, layout):
    eng = parquet_engines[layout]
    inf = float("inf")
    got = _bbox_rows(eng, (-inf, inf, -inf, inf))
    assert got == _bbox_rows(eng, (-180.0, 180.0, -90.0, 90.0))
    assert all(got)


@pytest.mark.parametrize("layout", [0, 1], ids=["csv", "parquet"])
def test_nan_upper_bbox_edge_equals_infinite(parquet_engines, layout):
    """Spark orders NaN above every double, so a NaN upper edge bounds
    nothing, the same as an infinite one."""
    eng = parquet_engines[layout]
    nan, inf = float("nan"), float("inf")
    got = _bbox_rows(eng, (116.0, nan, 36.0, nan))
    assert got == _bbox_rows(eng, (116.0, inf, 36.0, inf))
    assert all(got)


def test_parquet_handles_leak_no_month_filter(parquet_engines):
    """Reused table handles must not carry one call's month filter into the
    next: narrow, wide, narrow again, then an average-speed call whose
    history and "today" slices select different months."""
    csv_eng, pq_eng = parquet_engines
    one_month = _args(BBOX) + ("2016-07-01", "2016-07-31")
    four_months = _args(BBOX) + ("2016-06-15", "2016-09-20")
    for args in (one_month, four_months, one_month):
        got = sorted(pq_eng.get_overspeed_count(*args))
        assert got == sorted(csv_eng.get_overspeed_count(*args)), args
        assert got, args
    avg = _args(BBOX) + ("2016-07-03",)
    got = sorted(pq_eng.get_average_speed(*avg))
    assert got == sorted(csv_eng.get_average_speed(*avg))
    assert got


def test_parquet_layout_without_accident_table(spark, parquet_engines, tmp_path):
    """Tables open lazily: a layout ingested without an accident file still
    constructs and serves the two speed entry points."""
    _, pq_eng = parquet_engines
    base = tmp_path / "no_accident"
    shutil.copytree(pq_eng.base, base, ignore=shutil.ignore_patterns("accident"))
    eng = TrafficEngine(spark, str(base), layout="parquet", mode="parity")
    for method, args in (
        ("get_overspeed_count", _args(BBOX) + ("2016-06-15", "2016-08-02")),
        ("get_average_speed", _args(BBOX) + ("2016-12-15",)),
    ):
        assert sorted(getattr(eng, method)(*args)) == sorted(getattr(pq_eng, method)(*args))


def test_parquet_engine_sees_appended_month(spark, parquet_engines, tmp_path):
    """A month appended after an engine opened its tables (its ``month=``
    directories copied in later) is answered by that same engine exactly as
    by a new one, not silently from the stale file listing."""
    _, pq_eng = parquet_engines
    last = traffic_sim.MONTHS[-1]
    base = tmp_path / "appended"
    shutil.copytree(pq_eng.base, base, ignore=shutil.ignore_patterns(f"month={last}"))
    args = _args(BBOX) + (f"{last[:4]}-{last[4:]}-01", f"{last[:4]}-{last[4:]}-28")
    eng = TrafficEngine(spark, str(base), layout="parquet", mode="parity")
    assert eng.get_overspeed_count(*args) == []
    for t in ("speed_data", "fee_data"):
        shutil.copytree(f"{pq_eng.base}/{t}/month={last}", base / t / f"month={last}")
    want = sorted(TrafficEngine(spark, str(base), layout="parquet", mode="parity").get_overspeed_count(*args))
    assert want
    assert sorted(eng.get_overspeed_count(*args)) == want


def test_timezone_invariance(spark, traffic_dir):
    """Query results must not depend on the engine timezone: boundaries and
    row parsing are pinned to the SAME zone (a session left in UTC while
    boundaries moved to Shanghai would shift every window by 8h)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        utc = TrafficEngine(
            spark, str(traffic_dir), layout="reference_csv", mode="parity"
        ).get_accident_count(*_args(BBOX), "2016-07-01", "2016-09-15")
        sh = TrafficEngine(
            spark,
            str(traffic_dir),
            layout="reference_csv",
            mode="parity",
            timezone="Asia/Shanghai",
        ).get_accident_count(*_args(BBOX), "2016-07-01", "2016-09-15")
        assert sorted(utc) == sorted(sh)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_fixed_mode_keeps_at_least_parity_rows(spark, traffic_dir):
    """§2.10.1/2: fixed mode (UNION ALL, half-open ranges) must never report
    FEWER events than parity (whose multi-month UNION DISTINCT collapses
    duplicate observation tuples); per-cell counts dominate pointwise."""
    args = _args(BBOX) + ("2016-06-15", "2016-08-02")  # multi-month window
    import json

    par = {}
    for row in TrafficEngine(
        spark, str(traffic_dir), layout="reference_csv", mode="parity"
    ).get_overspeed_count(*args):
        r = json.loads(row)
        par[(r["car_type"], r["time_period"])] = r["speed_limit_num"]
    fix = {}
    for row in TrafficEngine(
        spark, str(traffic_dir), layout="reference_csv", mode="fixed"
    ).get_overspeed_count(*args):
        r = json.loads(row)
        fix[(r["car_type"], r["time_period"])] = r["speed_limit_num"]
    assert set(par) <= set(fix)
    assert all(fix[k] >= v for k, v in par.items())
    # the fixture plants duplicate tuples, so the modes must actually differ
    assert fix != par


def test_months_none_symmetric_across_layouts(parquet_engines):
    """months=None must mean 'every month on disk' in BOTH layouts (the CSV
    path used to return an empty frame while parquet returned everything),
    and months=[] must mean no month in both (parquet used to read every
    month)."""
    csv_eng, pq_eng = parquet_engines
    assert csv_eng.speed_data(None).count() == pq_eng.speed_data(None).count() > 0
    assert csv_eng.fee_data(None).count() == pq_eng.fee_data(None).count() > 0
    assert csv_eng.speed_data([]).count() == pq_eng.speed_data([]).count() == 0
    assert csv_eng.fee_data([]).count() == pq_eng.fee_data([]).count() == 0


def test_parquet_mode_marker_mismatch_raises(spark, traffic_dir, tmp_path_factory):
    from trafficbigdatasearch_spark.sources.parquet import ingest_reference_layout

    out = tmp_path_factory.mktemp("mode_marker")
    ingest_reference_layout(spark, str(traffic_dir), str(out), mode="parity")
    with pytest.raises(ValueError, match="mode"):
        TrafficEngine(spark, str(out), layout="parquet", mode="fixed")
