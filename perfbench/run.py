#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process, one result.

    python3 perfbench/run.py --workload facade_parquet --seed 1 --seconds 20 --trace 0

Workloads (see README.md): ``facade_parquet`` and ``registry_mix``.  The
load is one client thread in a closed loop on ``local[nproc]``.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` Spark's event log is switched on and the last line carries the
per-layer metrics instead.  The line before it is a JSON ``detail`` record:
host load, throughput, the latency tail, per-entry-point medians, set-up
repetitions and fixture sizes.

Everything the run writes goes under ``.perfbench/`` in the working
directory, and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from contextlib import ExitStack
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
WORKLOADS = ("facade_parquet", "registry_mix")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """``(end-to-end, per-layer)`` metric name -> unit, as ``BENCHMARK.json``
    declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


class Session:
    """Builds, rebuilds and finally stops the Spark session of one run."""

    def __init__(self, work: Path, trace: bool):
        for d in ("local", "tmp", "warehouse", "eventlog"):
            (work / d).mkdir(parents=True, exist_ok=True)
        self.eventlog = work / "eventlog"
        self.conf = {
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.eventlog),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.trace = trace
        self.spark = None

    def build(self):
        """Stop the current session, if any, and build a fresh one.
        Returns ``(spark, seconds the build took)``."""
        from trafficbigdatasearch_spark.session import build_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_spark(app_name="perfbench", master=MASTER, extra_conf=self.conf)
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.shuffle_partitions = self.spark.conf.get("spark.sql.shuffle.partitions")
        return self.spark, took

    def close(self) -> str | None:
        """Stop the session; return its event-log path on a traced run."""
        if self.spark is None:
            return None
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return str(self.eventlog / app) if self.trace else None


def shutdown_jvm() -> None:
    """Stop the JVM pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: Path
    session: Session


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_times() -> list[int] | None:
    """Aggregate CPU jiffies from ``/proc/stat`` (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(start, end) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times`` readings: the contention a load average does not show."""
    if not start or not end or len(start) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta[:8]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT)]
    try:
        from perfbench import facade, registry
        from perfbench.measure import median, tail
    except ImportError as e:
        print(f"perfbench: the engine package or its tests are missing: {e}", file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_metrics()

    work = Path.cwd() / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    # on SIGTERM, unwind through the clean-up below: stop Spark, remove files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start, cpu_start = _loadavg(), _cpu_times()
    session = Session(work, bool(args.trace))
    ctx = Context(args.seed, args.seconds, bool(args.trace), work, session)
    with ExitStack() as cleanup:  # runs every step even if one raises
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        cleanup.callback(shutdown_jvm)
        cleanup.callback(session.close)
        out = (facade if args.workload == "facade_parquet" else registry).run(ctx)

    pct, tail_ms, beyond = tail(out["latencies_ms"])
    e2e = {
        "setup_s": median(out["setups_s"]),
        "throughput_qps": len(out["latencies_ms"]) / out["elapsed_s"],
        "latency_p50_ms": median(out["latencies_ms"]),
        "latency_tail_ms": tail_ms,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "cpu_steal_share": _steal_share(cpu_start, _cpu_times()),
            "nproc": NPROC,
            "master": MASTER,
            "shuffle_partitions": session.shuffle_partitions,
        },
        # unbounded: throughput is a mean over the whole loop, so it takes in
        # every stall of a shared host; with a few dozen samples the tail rule
        # lands just above the median, on the same entry point or row
        "throughput_qps": {"value": e2e["throughput_qps"], "unit": "1/s"},
        "latency_tail_ms": {"value": tail_ms, "unit": "ms", "percentile": pct,
                            "samples": len(out["latencies_ms"]), "beyond": beyond},
        "error_rate": out["failed"] / max(1, out["attempted"]),
        "setups_s": out["setups_s"],
        **out["detail"],
    }
    if args.trace:
        layers = {**out["layers"], **{f"trace.{k}": v for k, v in e2e.items()}}
        undeclared = sorted(set(layers) - set(per_layer))
        if undeclared:
            raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {undeclared}")
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, u in per_layer.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in end_to_end.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
