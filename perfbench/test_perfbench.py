"""Tests of the benchmark's own logic.  Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import random
from pathlib import Path

import pytest

from perfbench import evlog, fixtures
from perfbench.measure import job_group, tail, union_ms

HERE = Path(__file__).resolve().parent


# --- tail percentile ---------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90, 10)


def test_tail_with_thirty_samples():
    pct, value, beyond = tail(range(30, 0, -1))  # order does not matter
    assert (pct, value, beyond) == (66, 20, 10)


def test_tail_percentile_grows_with_sample_count():
    pcts = [tail(range(n))[0] for n in (20, 40, 100, 1000)]
    assert pcts == sorted(pcts) and pcts[0] == 50 and pcts[-1] == 99


def test_tail_falls_back_to_p50_when_too_few_samples():
    assert tail([5.0, 1.0, 3.0]) == (50, 3.0, 1)
    assert tail(range(19)) == (50, 9, 9)  # p50 leaves only 9 beyond


# --- job-interval union ---------------------------------------------------------


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0, 10, 0),
        ([(1, 3), (5, 6)], 0, 10, 3),  # disjoint
        ([(1, 5), (4, 8)], 0, 10, 7),  # overlapping
        ([(1, 9), (2, 3), (4, 5)], 0, 10, 8),  # nested
        ([(1, 3), (3, 5)], 0, 10, 4),  # touching
        ([(-5, 2), (8, 20)], 0, 10, 4),  # clipped at both ends
        ([(11, 12), (-3, -1)], 0, 10, 0),  # entirely outside
    ],
)
def test_union_ms(intervals, lo, hi, want):
    assert union_ms(intervals, lo, hi) == want


# --- event log ---------------------------------------------------------------


def test_event_log_attributes_jobs_stages_and_tasks_to_groups():
    groups = evlog.read_file(str(HERE / "testdata" / "eventlog_small.jsonl"))
    assert set(groups) == {"g1", ""}
    g1 = groups["g1"]
    assert g1.jobs == 2
    assert g1.intervals == [(1792173009169, 1792173009654), (1792173009747, 1792173009865)]
    assert g1.counters["stages"] == 2
    assert g1.counters["tasks"] == 3
    assert g1.counters["task_run_ms"] == 509
    assert g1.counters["task_cpu_ms"] == pytest.approx(273.972327)
    assert g1.counters["shuffle_write_bytes"] == g1.counters["shuffle_read_bytes"] == 563
    assert groups[""].jobs == 2 and groups[""].counters["tasks"] == 3


def test_event_log_skipped_stage_stays_with_the_job_that_ran_it():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 7}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 5},
        # job 1 lists stage 0 as a skipped parent
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9},
    ]
    groups = evlog.read(json.dumps(e) for e in lines)
    assert groups["a"].counters["task_run_ms"] == 7 and groups["a"].counters["stages"] == 1
    assert groups["b"].counters["task_run_ms"] == 3 and groups["b"].counters["stages"] == 1


# --- job-group clearing ----------------------------------------------------------


class _FakeJsc:
    def __init__(self, sc):
        self.sc = sc

    def clearJobGroup(self):
        self.sc.group = None


class _FakeSc:
    def __init__(self):
        self.group = None
        self._jsc = _FakeJsc(self)

    def setJobGroup(self, group, description):
        self.group = group


def test_job_group_is_cleared_after_the_call_even_when_it_raises():
    sc = _FakeSc()
    with job_group(sc, "q1"):
        assert sc.group == "q1"
    assert sc.group is None
    with pytest.raises(ValueError):
        with job_group(sc, "q2"):
            raise ValueError
    assert sc.group is None


def test_job_group_does_not_leak_into_the_next_jobs(tmp_path):
    from trafficbigdatasearch_spark.session import build_spark

    spark = build_spark(
        app_name="perfbench-test",
        master="local[1]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(tmp_path),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    try:
        sc = spark.sparkContext
        with job_group(sc, "tagged"):
            spark.range(10).count()
        spark.range(10).count()
        app = sc.applicationId
    finally:
        spark.stop()
    groups = evlog.read_file(str(tmp_path / app))
    assert groups["tagged"].jobs >= 1
    assert groups[""].jobs >= 1


# --- inputs ----------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(tmp_path_factory) -> Path:
    base = tmp_path_factory.mktemp("traffic")
    fixtures.traffic_sim.generate(base, seed=5)
    return base


def test_query_stream_is_seeded_and_an_equal_mix(corpus):
    def head(seed, n=30):
        stream = fixtures.query_stream(corpus, seed)
        return [(q.kind, q.bbox, q.dates) for q in (next(stream) for _ in range(n))]

    assert head(1) == head(1)
    assert head(1) != head(2)
    kinds = [k for k, _, _ in head(1)]
    for block in range(0, 30, 3):
        assert sorted(kinds[block:block + 3]) == sorted(fixtures.KINDS)


def test_every_round_is_the_same_mix_of_work():
    designs = [fixtures.round_design(random.Random(seed)) for seed in (1, 2)]
    for design in designs:
        assert len(design) == fixtures.ROUND
        for kind in fixtures.KINDS:
            mine = [(size, span) for k, size, span in design if k == kind]
            assert sorted(str(size) for size, _ in mine) == sorted(map(str, fixtures.BBOX_CLASSES))
            assert sorted(span for _, span in mine) == sorted(fixtures.SPANS)
    assert designs[0] != designs[1]


def test_query_stream_stays_inside_the_corpus(corpus):
    stream = fixtures.query_stream(corpus, 3)
    for q in (next(stream) for _ in range(60)):
        lon_lo, lon_hi, lat_lo, lat_hi = q.bbox
        assert lon_lo <= lon_hi and lat_lo <= lat_hi
        assert all("2016-06-01" <= d <= "2016-12-31" for d in q.dates)
        assert list(q.dates) == sorted(q.dates)


def test_digest_is_canonical_and_type_strict():
    import pandas as pd

    a = pd.DataFrame({"B": [2, 1], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    assert fixtures.digest(a) == fixtures.digest(b)
    assert fixtures.digest(b) != fixtures.digest(b.astype({"b": "float64"}))


def test_recorded_digests_match_the_duckdb_oracle():
    from perfbench import oracle, registry

    assert json.loads(registry.DIGESTS.read_text()) == oracle.oracle_digests()
