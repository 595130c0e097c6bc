"""Seeded inputs for the facade (the traffic corpus and query stream), and
the canonical digest that compares registry outputs with their DuckDB
oracles."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from tests import traffic_sim

#: traffic_sim multiplier: 300 trips, 800 camera rows per month for 7 months
#: and 600 accidents.  A facade call costs about the same at scales 1 to 4
#: (plan build and job launch dominate), but ingest and the checks cost
#: less, which leaves a run time for more calls.
TRAFFIC_SCALE = 1

#: the corpus is the same in every run, so runs differ only in the queries
#: their seed draws, not in how much data there is to scan and join
CORPUS_SEED = 42

KINDS = ("accident", "overspeed", "avgspeed")

#: the station extent traffic_sim draws coordinates from
LON_RANGE, LAT_RANGE = (115.0, 120.0), (35.0, 41.0)

#: bbox size classes: one station (a zero-area box on it), a small and a
#: large band of half-extent around a station, and the full extent
BBOX_CLASSES = ("station", 0, 1, "full")

#: window lengths in months (for the average speed: which month its date is in)
SPANS = (1, 2, 4, 7)

#: calls per round: every entry point with every bbox size class once
ROUND = len(KINDS) * len(BBOX_CLASSES)


def traffic_corpus(base: Path) -> None:
    traffic_sim.generate(base, seed=CORPUS_SEED, scale=TRAFFIC_SCALE)


def _stations(base: Path) -> list[tuple[float, float]]:
    out = []
    for line in (base / "speed_base.csv").read_text().splitlines():
        f = line.split(",")
        if len(f) == 8 and f[6] and f[7]:
            out.append((float(f[6]), float(f[7])))
    return out


def _bbox(rng: random.Random, stations, size) -> tuple[float, float, float, float]:
    lon, lat = rng.choice(stations)
    if size == "station":
        return lon, lon, lat, lat
    if size == "full":
        return LON_RANGE + LAT_RANGE
    f = (size + rng.random()) / 2
    w = f * (LON_RANGE[1] - LON_RANGE[0]) / 2
    h = f * (LAT_RANGE[1] - LAT_RANGE[0]) / 2
    return (round(lon - w, 6), round(lon + w, 6), round(lat - h, 6), round(lat + h, 6))


def _window(rng: random.Random, span: int) -> tuple[str, str]:
    """A date range touching ``span`` of the corpus months."""
    first = rng.randrange(len(traffic_sim.MONTHS) - span + 1)
    start_mm = traffic_sim.MONTHS[first]
    end_mm = traffic_sim.MONTHS[first + span - 1]
    start = dt.date(int(start_mm[:4]), int(start_mm[4:]), rng.randint(1, 28))
    end = dt.date(int(end_mm[:4]), int(end_mm[4:]), rng.randint(1, 28))
    start, end = min(start, end), max(start, end)
    return start.isoformat(), end.isoformat()


class Query:
    """One facade call: entry point, bbox ``(lon_lo, lon_hi, lat_lo, lat_hi)``
    and date arguments."""

    def __init__(self, kind: str, bbox, dates: tuple[str, ...]):
        self.kind, self.bbox, self.dates = kind, bbox, dates

    def facade_args(self) -> tuple:
        lon_lo, lon_hi, lat_lo, lat_hi = self.bbox
        return (lon_hi, lon_lo, lat_hi, lat_lo, *self.dates)

    def oracle(self, base: Path) -> set:
        if self.kind == "accident":
            return traffic_sim.oracle_accident_count(base, self.bbox, *self.dates)
        if self.kind == "overspeed":
            return traffic_sim.oracle_overspeed(base, self.bbox, *self.dates)
        return _round_avg(traffic_sim.oracle_avgspeed(base, self.bbox, *self.dates))


def _round_avg(rows) -> set:
    return {(tp, seg, h, round(a, 9)) for tp, seg, h, a in rows}


def json_rows_as_set(kind: str, rows: list[str]) -> set:
    tuples = {tuple(json.loads(r).values()) for r in rows}
    return _round_avg(tuples) if kind == "avgspeed" else tuples


def round_design(rng: random.Random) -> list[tuple[str, object, int]]:
    """One round of ``(kind, bbox size class, window length)``: each entry
    point gets every size class once, each paired with a different window
    length, in blocks of three calls that hold each entry point once."""
    n = len(BBOX_CLASSES)
    pairs = {k: list(zip(rng.sample(BBOX_CLASSES, n), rng.sample(SPANS, n))) for k in KINDS}
    return [(k, *pairs[k][i]) for i in range(n) for k in rng.sample(KINDS, len(KINDS))]


def query_stream(base: Path, seed: int):
    """Endless seeded stream of rounds (:func:`round_design`).  Every round
    is the same mix of work; the seed draws the pairing and order of the
    classes, the station each bbox is centred on and the days."""
    rng = random.Random(seed)
    stations = _stations(base)
    while True:
        for kind, size, span in round_design(rng):
            bbox = _bbox(rng, stations, size)
            if kind == "avgspeed":
                mm = traffic_sim.MONTHS[span - 1]
                day = dt.date(int(mm[:4]), int(mm[4:]), rng.randint(1, 28))
                yield Query(kind, bbox, (day.isoformat(),))
            else:
                yield Query(kind, bbox, _window(rng, span))


#: the three calls bench.py times, used as warm-up
WARMUP = (
    Query("accident", (116.0, 118.0, 36.0, 39.0), ("2016-07-01", "2016-09-15")),
    Query("overspeed", (116.0, 118.0, 36.0, 39.0), ("2016-06-15", "2016-08-02")),
    Query("avgspeed", (116.0, 118.0, 36.0, 39.0), ("2016-12-15",)),
)


# --- registry tables and digest -------------------------------------------------


def table_rows(out_dir) -> dict[str, int]:
    return {
        p.stem: pq.ParquetFile(p).metadata.num_rows
        for p in sorted(Path(out_dir).glob("*.parquet"))
    }


def _cell(x) -> str:
    """Type-strict cell text: an int 7 and a float 7.0 differ."""
    if x is None:
        return "NULL"
    if isinstance(x, (float, np.floating)):
        return "NULL" if math.isnan(x) else repr(float(x))
    if isinstance(x, (bool, np.bool_)):
        return str(bool(x))
    if isinstance(x, np.integer):
        return str(int(x))
    try:
        import pandas as pd

        if x is pd.NaT:
            return "NULL"
    except ImportError:
        pass
    return str(x)


def digest(df) -> str:
    """SHA-256 of a pandas frame in canonical form: columns by lower-cased
    name, rows sorted by every column, each cell rendered type-strictly."""
    df = df.rename(columns=str.lower)
    df = df[sorted(df.columns)]
    rows = sorted(
        "\x1f".join(_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in rows:
        h.update(b"\x1e" + row.encode())
    return h.hexdigest()
