"""``registry_mix``: registry rows over the repository's sf0.01 tables, each
a registry call (plan build, plus whatever eager driver loops the row runs)
and a ``noop`` write that forces the plan, in a seeded order every pass."""

from __future__ import annotations

import json
import random
import sys
import time
import traceback
from pathlib import Path

from trafficbigdatasearch_spark.queries import standard

from perfbench import evlog, fixtures
from perfbench.measure import SETUP_REPS, force, median, outside_job_ms, timed

DATA = Path(__file__).resolve().parent / "data"
#: byte-for-byte copies of the sf0.01 tables the rows read
TABLES_DIR = DATA / "sf0.01"
#: DuckDB oracle digest per row over TABLES_DIR, written by oracle.py
DIGESTS = DATA / "digests.json"

#: rows whose registry call runs a fixpoint loop on the driver
ITERATIVE = ("dedup_clusters",)
#: single-plan rows: the call only builds the plan, the write runs it
RELATIONAL = (
    "q3_shipping_priority",
    "a_grouping_sets",
    "w_row_number",
    "a_pricing_summary",
    "j2_interval_join",
    "u_union_distinct",
)
ROWS = ITERATIVE + RELATIONAL


def run(ctx) -> dict:
    sf_dir = str(TABLES_DIR)
    want = json.loads(DIGESTS.read_text())
    qs = standard.queries()

    setups, builds = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark, build_s = ctx.session.build()
        builds.append(build_s)
        for q in ROWS:
            force(qs[q](spark, sf_dir))
        setups.append(time.perf_counter() - t0)
    sc = spark.sparkContext

    rng = random.Random(ctx.seed)
    calls, spans, passes, failed, attempted = [], [], [], 0, 0
    t_start = time.perf_counter()
    # whole passes until --seconds is up: every row has the same number of
    # samples, so the median always reads the same rows of the roster
    while len(passes) < 2 or time.perf_counter() - t_start < ctx.seconds:
        order = rng.sample(ROWS, len(ROWS))
        pass_ms = {}
        for q in order:
            p = len(passes)
            attempted += 1
            t0 = time.perf_counter()
            try:
                df = timed(spans, sc, f"p{p}.{q}.build", qs[q], spark, sf_dir)
                timed(spans, sc, f"p{p}.{q}.force", force, df)
            except Exception:  # noqa: BLE001 — counted as failed, run goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
                continue
            pass_ms[q] = (time.perf_counter() - t0) * 1000.0
            calls.append({"q": q, "ms": pass_ms[q], "build": spans[-2], "force": spans[-1]})
        passes.append(pass_ms)
    elapsed = time.perf_counter() - t_start

    # correctness, outside every timed span: canonical digest of each row's
    # output vs the DuckDB oracle over the same tables
    wrong = []
    for q in ROWS:
        try:
            if fixtures.digest(qs[q](spark, sf_dir).toPandas()) != want[q]:
                wrong.append(f"{q}: digest differs from the DuckDB oracle")
        except Exception:  # noqa: BLE001 — a check that raises is a wrong answer
            traceback.print_exc(file=sys.stderr)
            wrong.append(f"{q}: raised while checked")
    for w in wrong:
        print(f"WRONG {w}", file=sys.stderr)
    log = ctx.session.close()

    complete = [p for p in passes if len(p) == len(ROWS)]
    layers = {
        "session.build_s": median(builds),
        "registry.iterative_pass_s": median(sum(p[q] for q in ITERATIVE) / 1000 for p in complete),
        "registry.relational_pass_s": median(sum(p[q] for q in RELATIONAL) / 1000 for p in complete),
    }
    by_row = {q: [c for c in calls if c["q"] == q] for q in ROWS}
    groups = evlog.read_file(log) if log else None
    for q, cs in by_row.items():
        layers[f"registry.build_ms.{q}"] = median(c["build"].ms for c in cs)
        layers[f"registry.force_ms.{q}"] = median(c["force"].ms for c in cs)
        if groups is None:
            continue
        build_jobs, force_jobs, outside, cpu = [], [], [], []
        for c in cs:
            b = groups.get(c["build"].group)
            f = groups.get(c["force"].group)
            build_jobs.append(b.jobs if b else 0)
            force_jobs.append(f.jobs if f else 0)
            outside.append(outside_job_ms(groups, [c["build"], c["force"]]))
            cpu.append(sum(g.counters["task_cpu_ms"] for g in (b, f) if g))
        layers[f"registry.build_jobs.{q}"] = median(build_jobs)
        layers[f"registry.force_jobs.{q}"] = median(force_jobs)
        layers[f"registry.outside_job_ms.{q}"] = median(outside)
        layers[f"registry.task_cpu_ms.{q}"] = median(cpu)

    return {
        "attempted": attempted,
        "failed": failed + len(wrong),
        "correct": not wrong and failed == 0 and bool(complete),
        "latencies_ms": [c["ms"] for c in calls],
        "elapsed_s": elapsed,
        "setups_s": setups,
        "layers": layers,
        "detail": {
            "table_rows": fixtures.table_rows(sf_dir),
            "passes": len(complete),
            "row_ms": {q: median(c["ms"] for c in cs) for q, cs in by_row.items()},
            "iterative_pass_s": layers["registry.iterative_pass_s"],
            "relational_pass_s": layers["registry.relational_pass_s"],
            "wrong": wrong,
        },
    }
