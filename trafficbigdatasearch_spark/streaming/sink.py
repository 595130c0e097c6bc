"""Idempotent streaming sinks via foreachBatch.

Structured Streaming's file sink is append-only; the production shape for
maintaining a QUERYABLE partitioned table from a stream (the reference's
month-partitioned layout, fed continuously instead of by monthly drops) is
``foreachBatch`` + partition-scoped overwrite: each micro-batch rewrites
exactly the partitions it touches, so a batch REPLAY after a failure
rewrites the same partitions with the same rows — effectively-once output
on top of the checkpoint's exactly-once batch ids.

Two pieces:

- :func:`foreach_batch_upsert` — the writer: per batch, dynamic partition
  overwrite of the touched partitions (sources/parquet.py::upsert_partitions
  under the hood).  Idempotence contract: the batch->partition mapping must
  be deterministic, which holds for event-time-partitioned data (the batch
  carries the same rows on replay) — NOT for processing-time partitions.
- :func:`foreach_batch_merge_partials` — the incremental-aggregation
  marriage: per batch, collapse the delta to mergeable exact partials
  (operators/incremental.py) and upsert them into a partial-state table
  keyed by (group, batch partition); readers merge+finalize at query time.
  This keeps per-key state OUT of the streaming state store (no watermark
  eviction pressure) while queries still see every event exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trafficbigdatasearch_spark.catalog import file_schema
from trafficbigdatasearch_spark.sources.parquet import upsert_partitions


def foreach_batch_upsert(
    path: str,
    partition_by: list[str],
):
    """Return a ``foreachBatch`` function that upserts each micro-batch
    into a partitioned parquet table at ``path``, overwriting only the
    partitions the batch touches.  Use:

        stream.writeStream.foreachBatch(foreach_batch_upsert(p, ["d"]))
              .option("checkpointLocation", cp).start()
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_partitions(batch_df, path, partition_by)

    return _write


def foreach_batch_merge_upsert(
    snapshot_dir: str,
    keys: list[str],
    op_col: str = "op",
):
    """Return a ``foreachBatch`` function that maintains a row-level keyed
    SNAPSHOT from a CDC change stream — streaming ``MERGE INTO`` semantics
    (operators/diff.py::merge_upsert per micro-batch) on plain parquet.

    Layout: ``snapshot_dir/v<batch_id>`` holds each version;
    ``snapshot_dir/_CURRENT`` names the live one and is swapped by atomic
    rename after the version write commits — readers either see the old
    complete snapshot or the new complete snapshot, never a partial.

    Idempotence on batch REPLAY comes from merge_upsert itself: re-applying
    a changeset to a snapshot that already includes it rewrites the same
    rows (upserts replace with identical values, deletes find nothing) —
    pinned in tests/test_streaming.py.  Version dirs accumulate; prune old
    ones out-of-band once readers drain (same discipline as any
    copy-on-write table format).

    At 100 TB each batch rewrites the FULL snapshot (copy-on-write) — right
    for dimension/entity tables maintained from CDC, wrong for fact
    streams (use ``foreach_batch_upsert``'s partition-scoped overwrite or
    the partial-aggregate sink instead)."""
    import os

    from trafficbigdatasearch_spark.operators.diff import merge_upsert

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        vdir = f"v{batch_id}"
        pointer = os.path.join(snapshot_dir, "_CURRENT")
        if os.path.exists(pointer):
            with open(pointer) as f:
                current = f.read().strip()
            if current == vdir:
                # Replay of an already-applied batch: _CURRENT is swapped
                # only AFTER a committed version write, so pointing at
                # v{batch_id} proves this batch's merge is durable.
                # Re-running would read and overwrite the live version in
                # place (self-read-overwrite is plan-shape-dependent and
                # breaks the atomicity contract for concurrent readers);
                # the safe idempotent action is a no-op.
                return
            snap = spark.read.parquet(os.path.join(snapshot_dir, current))
        else:
            snap = batch_df.drop(op_col).filter(F.lit(False))
        merged = merge_upsert(snap, batch_df, keys, op_col)
        merged.write.mode("overwrite").parquet(os.path.join(snapshot_dir, vdir))
        tmp = pointer + f".tmp{batch_id}"
        with open(tmp, "w") as f:
            f.write(vdir)
        os.replace(tmp, pointer)

    return _write


def read_merge_snapshot(spark, snapshot_dir: str, version: str | None = None) -> DataFrame:
    """Read a :func:`foreach_batch_merge_upsert` snapshot: the live version
    (the ``_CURRENT`` pointer's target) by default, or any retained
    historical version by name (``version="v7"``) — TIME TRAVEL over the
    copy-on-write layout, for free, until :func:`vacuum_merge_versions`
    reclaims the directory."""
    import os

    if version is None:
        with open(os.path.join(snapshot_dir, "_CURRENT")) as f:
            version = f.read().strip()
    path = os.path.join(snapshot_dir, version)
    return spark.read.schema(file_schema(spark, path)).parquet(path)


def list_merge_versions(snapshot_dir: str) -> list[str]:
    """Retained version directories of a merge snapshot, oldest batch id
    first; read ``_CURRENT`` (one line) for the live designation."""
    import os

    vs = sorted(
        (d for d in os.listdir(snapshot_dir)
         if d.startswith("v") and d[1:].isdigit()
         and os.path.isdir(os.path.join(snapshot_dir, d))),
        key=lambda d: int(d[1:]),
    )
    return vs


def vacuum_merge_versions(snapshot_dir: str, keep_last: int = 2) -> list[str]:
    """Reclaim old versions of a merge snapshot: keep the ``_CURRENT``
    target plus the newest ``keep_last`` version dirs, delete the rest;
    returns what was deleted.  The retention window is the time-travel /
    slow-reader horizon — a reader that opened a version before the vacuum
    must finish within it (the same contract every copy-on-write table
    format documents for its VACUUM).

    Fail-stop deletion: each dropped version is first RENAMED out of the
    version namespace (one atomic ``os.replace``) and only then removed,
    so a crash or permission failure mid-delete leaves a ``.trash-*``
    directory invisible to :func:`list_merge_versions` /
    :func:`read_merge_snapshot` — never a half-deleted version that time
    travel would silently read as truncated data."""
    import os
    import shutil
    import uuid

    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    with open(os.path.join(snapshot_dir, "_CURRENT")) as f:
        current = f.read().strip()
    vs = list_merge_versions(snapshot_dir)
    # vs[-0:] would slice the WHOLE list, silently keeping everything
    newest = set(vs[-keep_last:]) if keep_last else set()
    keep = newest | {current}
    dropped = []
    for v in vs:
        if v in keep:
            continue
        trash = os.path.join(
            snapshot_dir, f".trash-{v}-{uuid.uuid4().hex[:8]}"
        )
        os.replace(os.path.join(snapshot_dir, v), trash)
        dropped.append(v)
        shutil.rmtree(trash, ignore_errors=True)
    return dropped


def foreach_batch_append_with_sidecar(
    path: str,
    cols: list[str],
    sidecar_path: str,
):
    """Return a ``foreachBatch`` function that appends each micro-batch to
    a parquet directory WHILE maintaining its min/max data-skipping
    sidecar (sources/parquet.py::append_with_sidecar): streaming ingest
    whose output table supports planning-time file pruning from the first
    batch, no bootstrap scan ever.

    Stats cost per batch is O(that batch's files) — the data was already
    in flight, so the sidecar keeps up with any sustained rate.  On batch
    REPLAY the data append duplicates rows (file-sink append semantics —
    use the partition-overwrite sink for effectively-once output); the
    sidecar stays CONSISTENT with whatever files exist because it stats
    exactly the files each write created.  After a crash between the two
    appends, ``verify_sidecar_manifest`` + ``compact_sidecar`` repair
    (same contract as the batch path)."""
    from trafficbigdatasearch_spark.sources.parquet import (
        append_with_sidecar,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_with_sidecar(batch_df, path, cols, sidecar_path)

    return _write


def foreach_batch_merge_partials(
    path: str,
    keys: list[str],
    value_cents_col: str,
):
    """Return a ``foreachBatch`` function that maintains a mergeable
    partial-aggregate table: each batch is collapsed to (keys..., _n,
    _sum_c, _min_c, _max_c) partials and written under its batch id, so
    replayed batches overwrite their own partials (idempotent) and a
    query-time ``merge_partials`` + ``finalize`` over the table equals a
    full rescan of every event ever seen.  ``value_cents_col`` names an
    already-integer cents column in the stream."""
    from trafficbigdatasearch_spark.operators import incremental as I

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        part = I.partial_aggregate(
            batch_df, keys, F.col(value_cents_col)
        ).withColumn("_batch_id", F.lit(batch_id))
        upsert_partitions(part, path, ["_batch_id"])

    return _write
