"""``facade_parquet``: seeded closed-loop calls of the three facade entry
points on the Parquet layout written by ``ingest_reference_layout``."""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

from trafficbigdatasearch_spark.engine import TrafficEngine
from trafficbigdatasearch_spark.queries._core import (
    BBox,
    join_stations,
    join_toll_class,
    station_guids,
)
from trafficbigdatasearch_spark.sources import to_json_rows
from trafficbigdatasearch_spark.sources.parquet import ingest_reference_layout

from perfbench import evlog, fixtures
from perfbench.measure import SETUP_REPS, force, job_group, median, outside_job_ms, timed


TABLES = ("accident", "speed_data", "fee_data", "speed_base")

_RAW_FILES = {
    "accident": "TF_ZFZD_CASESPECIFICATION.csv",
    "speed_data": "*/*CSYDATA.csv",
    "fee_data": "*/*SFZDATA.csv",
    "speed_base": "speed_base.csv",
}


def _plan(eng, q):
    fn = {
        "accident": eng.accident_count_df,
        "overspeed": eng.overspeed_count_df,
        "avgspeed": eng.average_speed_df,
    }[q.kind]
    return fn(*q.facade_args())


def _call(eng, q) -> list[str]:
    return to_json_rows(_plan(eng, q))


def _dir_bytes(path: Path, pattern: str) -> tuple[int, int]:
    files = [p for p in path.glob(pattern) if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def run(ctx) -> dict:
    csv_dir, pq_dir = ctx.work / "traffic_csv", ctx.work / "traffic_parquet"
    fixtures.traffic_corpus(csv_dir)

    # set-up: session build, engine construction and warm-up, several times
    setups, builds, ingest_s = [], [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark, build_s = ctx.session.build()
        builds.append(build_s)
        excluded = 0.0
        if ingest_s is None:
            t1 = time.perf_counter()
            ingest_reference_layout(spark, str(csv_dir), str(pq_dir), mode="parity")
            excluded = ingest_s = time.perf_counter() - t1
        eng = TrafficEngine(spark, str(pq_dir), layout="parquet", mode="parity")
        for q in fixtures.WARMUP:
            _call(eng, q)
        setups.append(time.perf_counter() - t0 - excluded)
    sc = spark.sparkContext

    # measured closed loop: one client, next call after the previous returns
    calls, spans, failed = [], [], 0
    stream = fixtures.query_stream(csv_dir, ctx.seed)
    checked: dict[str, tuple] = {}  # entry point -> (query, rows) to check
    attempted = 0
    t_start = time.perf_counter()
    # whole blocks of three calls, one per entry point, until --seconds is up,
    # so every entry point has the same number of samples
    while attempted % len(fixtures.KINDS) or time.perf_counter() - t_start < ctx.seconds:
        q, i = next(stream), attempted
        attempted += 1
        t0 = time.perf_counter()
        try:
            df = timed(spans, sc, f"q{i}.plan", _plan, eng, q)
            rows = timed(spans, sc, f"q{i}.exec", to_json_rows, df)
        except Exception:  # noqa: BLE001 — counted as failed, run goes on
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        calls.append(
            {"kind": q.kind, "ms": (time.perf_counter() - t0) * 1000.0,
             "plan": spans[-2], "exec": spans[-1], "rows": len(rows)}
        )
        # check the first non-empty answer of each entry point, if any
        if q.kind not in checked or (rows and not checked[q.kind][1]):
            checked[q.kind] = (q, rows)
    elapsed = time.perf_counter() - t_start

    # correctness, outside every timed span: one answer of each entry point
    # must equal the Python oracle as an exact set, and the CSV layout must
    # return the same JSON rows for it
    wrong = []
    csv_eng = TrafficEngine(spark, str(csv_dir), layout="reference_csv", mode="parity")
    for kind, (q, rows) in checked.items():
        problems = []
        if fixtures.json_rows_as_set(kind, rows) != q.oracle(csv_dir):
            problems.append("differs from the oracle")
        try:
            if sorted(_call(csv_eng, q)) != sorted(rows):
                problems.append("the CSV layout answers differently")
        except Exception:  # noqa: BLE001 — a check that raises is a wrong answer
            traceback.print_exc(file=sys.stderr)
            problems.append("the CSV layout raised")
        if problems:
            wrong.append(f"{kind} {q.bbox} {q.dates}: {'; '.join(problems)}")
    for w in wrong:
        print(f"WRONG {w}", file=sys.stderr)

    layers = {}
    if ctx.trace:
        layers.update(_probe_sources(spark, eng, csv_dir))
    pq_files, pq_bytes = _dir_bytes(pq_dir, "**/*.parquet")
    _, csv_bytes = _dir_bytes(csv_dir, "**/*.csv")
    log = ctx.session.close()

    by_kind = {k: [c for c in calls if c["kind"] == k] for k in fixtures.KINDS}
    layers.update({
        "session.build_s": median(builds),
        "sources.parquet.ingest_s": ingest_s,
        "sources.parquet.ingest_bytes_ratio": pq_bytes / csv_bytes,
        "sources.parquet.files_written": pq_files,
    })
    for k, cs in by_kind.items():
        layers[f"facade.{k}_p50_ms"] = median(c["ms"] for c in cs)
        layers[f"engine.plan_ms.{k}"] = median(c["plan"].ms for c in cs)
        layers[f"json_sink.exec_ms.{k}"] = median(c["exec"].ms for c in cs)
        layers[f"json_sink.rows.{k}"] = median(c["rows"] for c in cs)
    if log:
        layers.update(_from_event_log(evlog.read_file(log), by_kind))

    return {
        "attempted": attempted,
        "failed": failed + len(wrong),
        "correct": not wrong and failed == 0 and bool(calls),
        "latencies_ms": [c["ms"] for c in calls],
        "elapsed_s": elapsed,
        "setups_s": setups,
        "layers": layers,
        "detail": {
            "fixture": {
                "traffic_scale": fixtures.TRAFFIC_SCALE,
                "csv_bytes": csv_bytes,
                "parquet_bytes": pq_bytes,
                "parquet_files": pq_files,
            },
            "ingest_s": ingest_s,
            "p50_ms": {k: layers[f"facade.{k}_p50_ms"] for k in fixtures.KINDS},
            "calls": {k: len(cs) for k, cs in by_kind.items()},
            "checked": len(checked),
            "wrong": wrong,
        },
    }


def _from_event_log(groups, by_kind) -> dict:
    out = {}
    for k, cs in by_kind.items():
        plan_jobs, outside, counters = [], [], []
        for c in cs:
            plan = groups.get(c["plan"].group)
            execs = groups.get(c["exec"].group)
            plan_jobs.append(plan.jobs if plan else 0)
            outside.append(outside_job_ms(groups, [c["plan"], c["exec"]]))
            if execs:
                counters.append(dict(execs.counters, jobs=execs.jobs))
        out[f"engine.plan_jobs.{k}"] = median(plan_jobs)
        out[f"engine.outside_job_ms.{k}"] = median(outside)
        for name in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
                     "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
            out[f"json_sink.{name}.{k}"] = median(c[name] for c in counters)
    return out


def _probe_sources(spark, eng, csv_dir: Path) -> dict:
    """Forced sub-plans of the source and join layers (traced run only, after
    the measured loop): scan time and rows per table, rows kept per raw CSV
    line, and the station filter -> station join -> toll join funnel on the
    canonical bbox over every month."""
    out = {}
    sc = spark.sparkContext
    with job_group(sc, "probe"):
        for t in TABLES:
            df = getattr(eng, t)()
            t0 = time.perf_counter()
            force(df)
            out[f"sources.scan_ms.{t}"] = (time.perf_counter() - t0) * 1000.0
            rows = df.count()
            raw = sum(
                sum(1 for line in p.read_text().splitlines() if line)
                for p in csv_dir.glob(_RAW_FILES[t])
            )
            out[f"sources.rows_out.{t}"] = rows
            out[f"sources.csv_traffic.kept_ratio.{t}"] = rows / raw
        guids = station_guids(eng.speed_base(), BBox(116.0, 118.0, 36.0, 39.0))
        stations = join_stations(eng.speed_data(), guids)
        toll = join_toll_class(stations, eng.fee_data())
        t0 = time.perf_counter()
        force(toll)
        out["queries.core.toll_join_ms"] = (time.perf_counter() - t0) * 1000.0
        out["queries.core.station_rows"] = guids.count()
        out["queries.core.join_stations_rows"] = stations.count()
        out["queries.core.toll_join_rows"] = toll.count()
        out["queries.core.toll_match_ratio"] = (
            out["queries.core.toll_join_rows"] / max(1, out["queries.core.join_stations_rows"])
        )
    return out
