"""Partitioned Parquet storage layer.

Replaces the reference's hand-rolled month partitioning — one directory per
month with driver-loop path construction (src/OverSpeedCount.scala:43-48;
src/AverageSpeed.scala:128-133) — with Hive-style partitioned Parquet, so
Catalyst partition pruning (incl. dynamic partition pruning on the join side)
does the month selection that the reference does with string-built paths.

At 100 TB: a month-partitioned fact with ~128 MB row-groups gives the scan
layer prune-able units; no driver loop ever enumerates files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafficbigdatasearch_spark.catalog import file_schema


def write_month_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    *,
    mode: str = "overwrite",
    extra_partition_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as Parquet partitioned by a derived ``month`` column
    (``yyyyMM``, matching the reference's directory naming)."""
    ts = F.col(ts_col)
    if dict(df.dtypes)[ts_col] == "bigint":  # epoch millis
        ts = F.timestamp_millis(ts)
    out = df.withColumn("month", F.date_format(ts, "yyyyMM"))
    cols = ["month"] + (extra_partition_cols or [])
    out.write.mode(mode).partitionBy(*cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned dataset; month predicates prune at planning time."""
    return spark.read.parquet(path)


def ingest_reference_layout(
    spark: SparkSession,
    csv_base: str,
    out_base: str,
    *,
    mode: str = "parity",
    zorder: bool = False,
    zorder_rows_per_file: int = 100_000,
) -> list[str]:
    """One-time conversion of the reference's CSV directory contract
    (``speed_base.csv`` + ``TF_ZFZD_CASESPECIFICATION.csv`` + per-month
    ``YYYYMM/YYYYMM{CSYDATA,SFZDATA}.csv``, src/OverSpeedCount.scala:47-48)
    into the engine-native layout read by ``TrafficEngine(layout="parquet")``:
    parsed ``accident/`` and ``speed_base/`` tables plus ``speed_data/`` and
    ``fee_data/`` partitioned by ``month``.

    The partition value is the SOURCE DIRECTORY's month, not one derived from
    a timestamp column: the reference's files are the unit of month selection
    (a toll trip in file 201607 may end in 201608), and preserving file
    semantics keeps parquet-layout query results row-identical to the CSV
    layout.  After this, month selection at query time is Catalyst partition
    pruning — the driver's only enumeration is here, at ingest.

    ``mode`` is the cleaning mode the tables are parsed with (parity/fixed);
    query with an engine constructed in the same mode.  Returns the ingested
    month list.  (Month discovery uses a local directory listing — for
    object-store deployments swap in a FileSystem.globStatus call.)

    ``zorder=True`` writes the ACCIDENT table through :func:`write_zordered`
    on (CASELONGITUDE, CASELATITUDE) — the 2-D clustering layout for the
    reference's bbox workload (src/AccidentStatistics.scala:102): every file
    covers a compact lon/lat TILE, so parquet min/max stats skip most files
    for any small box, where the default layout's files span the full extent
    of at least one dimension.  Pure reordering — query results are
    row-identical; rows with NULL coordinates land in the origin tile (Z
    bucket 0) and are never dropped.  Opt-in because the Z write costs one
    range shuffle + a bounds job at ingest.
    """
    import os
    import re

    from trafficbigdatasearch_spark.sources.csv_traffic import (
        read_accident_csv,
        read_fee_csv,
        read_speed_base_csv,
        read_speed_csv,
    )

    months = sorted(
        d for d in os.listdir(csv_base)
        if re.fullmatch(r"\d{6}", d) and os.path.isdir(os.path.join(csv_base, d))
    )
    acc = os.path.join(csv_base, "TF_ZFZD_CASESPECIFICATION.csv")
    if os.path.exists(acc):
        acc_df = read_accident_csv(spark, acc, mode=mode)
        acc_out = os.path.join(out_base, "accident")
        if zorder:
            write_zordered(
                acc_df,
                acc_out,
                ["CASELONGITUDE", "CASELATITUDE"],
                rows_per_file=zorder_rows_per_file,
            )
        else:
            acc_df.write.mode("overwrite").parquet(acc_out)
    read_speed_base_csv(
        spark, os.path.join(csv_base, "speed_base.csv")
    ).write.mode("overwrite").parquet(os.path.join(out_base, "speed_base"))

    def _tagged(suffix: str, reader) -> DataFrame | None:
        parts = []
        for mm in months:
            p = os.path.join(csv_base, mm, f"{mm}{suffix}.csv")
            if os.path.exists(p):
                parts.append(reader(spark, [p]).withColumn("month", F.lit(int(mm))))
        if not parts:
            return None
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out

    for suffix, reader, name in (
        ("CSYDATA", read_speed_csv, "speed_data"),
        ("SFZDATA", read_fee_csv, "fee_data"),
    ):
        df = _tagged(suffix, reader)
        if df is not None:
            df.write.mode("overwrite").partitionBy("month").parquet(
                os.path.join(out_base, name)
            )
    # marker consumed by TrafficEngine._check_ingest_mode: querying a layout
    # with a different cleaning mode than it was parsed with mixes semantics
    os.makedirs(out_base, exist_ok=True)
    with open(os.path.join(out_base, "_mode"), "w") as f:
        f.write(mode)
    return months


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally per-bucket sorted) Parquet
    table — the co-located-join layout.

    Two tables bucketed by the same keys into the same ``n_buckets`` join
    with NO shuffle exchange on either side (Spark plans a sort-merge join
    over aligned buckets); with ``sort_cols`` matching the join keys the sort
    is skipped too.  At 100 TB this is the difference between re-shuffling a
    fact table per join and reading it pre-partitioned — the standard layout
    for repeatedly-joined facts (e.g. speed obs ⋈ toll trips on plate).

    ``path`` makes the table external (data at ``path``, metadata in the
    catalog); bucketing metadata lives in the catalog, so reads must go
    through ``spark.table(table)``, not ``spark.read.parquet(path)``.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_sized(
    df: DataFrame,
    path: str,
    *,
    rows_per_file: int,
    partition_by: list[str] | None = None,
    range_by: list[str] | None = None,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Compaction sink: Parquet output with a bounded number of rows per
    file — the file-sizing step every large corpus write needs (a 100 TB
    write that lets each of 10k reduce tasks emit per-partition shards
    produces millions of KB-files; readers then pay per-file open/footer
    cost forever).

    - ``partition_by``: one shuffle on the partition keys, so each output
      partition directory is written by as few tasks as hold its rows —
      file count per partition ≈ ceil(partition_rows / rows_per_file),
      enforced by Spark's ``maxRecordsPerFile`` split.
    - ``range_by`` (no ``partition_by``): range-repartition into
      ``n_files`` (or ceil(count/rows_per_file) — one count job) ordered
      splits, giving files with non-overlapping min/max on the range keys
      — the data-skipping layout for time/id-ordered corpora.
    - neither: plain round-robin into the computed file count.

    ``maxRecordsPerFile`` is set per-WRITER (``option(...)``), not on the
    session, so concurrent writers are unaffected.
    """
    if partition_by:
        out = df.repartition(*[F.col(c) for c in partition_by])
    else:
        if n_files is None:
            n_files = max(1, -(-df.count() // rows_per_file))
        if range_by:
            out = df.repartitionByRange(n_files, *[F.col(c) for c in range_by])
        else:
            out = df.repartition(n_files)
    writer = out.write.mode(mode).option("maxRecordsPerFile", rows_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two :func:`write_bucketed` tables on their common bucket key.

    When both sides were bucketed on ``on`` with the SAME bucket count the
    plan contains no Exchange (pinned in tests/test_plans.py) — the write
    was the one and only shuffle.  Bucket-count choice at scale:
    ``table_bytes / n_buckets`` should fit an executor comfortably
    (~128-512 MB compressed); mismatched counts silently fall back to a
    normal shuffle join, so fact tables that join each other must agree on
    (key, n_buckets) at ingest time.
    """
    return spark.table(left_table).join(spark.table(right_table), on, how)


def zorder_value(cols: list, bits: int = 10, *, mins: list, maxs: list):
    """Z-order (Morton) key of 2+ numeric columns: each value is linearly
    bucketed into ``2^bits`` cells of its [min, max] range, then the bucket
    bits are interleaved.  Pure integer expressions — whole-stage codegen'd.

    ``mins``/``maxs`` are REQUIRED per-column range bounds (literals;
    compute them once with one cheap agg job, or pass domain constants like
    a city bbox — constants also keep the key STABLE across appends)."""
    n = len(cols)
    if mins is None or maxs is None or len(mins) != n or len(maxs) != n:
        raise ValueError(
            "zorder_value needs one min and one max per column (pass domain "
            "constants, or compute them with a single agg job as "
            "write_zordered does)"
        )
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo) or 1.0
        b = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                ((c.cast("double") - F.lit(float(lo))) / F.lit(span)
                 * F.lit((1 << bits) - 1)).cast("bigint"),
            ),
        )
        buckets.append(b)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, b in enumerate(buckets):
            z = z + (F.shiftright(b, i).bitwiseAND(F.lit(1))
                     * F.lit(1 << (i * n + j)))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    rows_per_file: int,
    bits: int = 10,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional clustering sink: rows range-partitioned and sorted
    by their Z-order key, so every output file covers a compact TILE in all
    clustered dimensions at once.

    Why it matters for this engine's flagship workload: the reference's
    queries are 2-D bbox filters (src/AccidentStatistics.scala:102,
    src/OverSpeedCount.scala:36).  A 1-D sort on lon gives files that span
    the FULL lat range — a bbox query intersects every slab in its lon
    band; Z-ordered files bound BOTH extents (pinned in
    tests/test_sources.py), so parquet min/max stats skip most files for
    any small box.  Two cheap extra jobs (range agg + count) buy the
    layout; the write is one range shuffle."""
    stats = df.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(cols)],
        F.count("*").alias("_n"),
    ).first()
    mins = [stats[f"_lo{i}"] for i in range(len(cols))]
    maxs = [stats[f"_hi{i}"] for i in range(len(cols))]
    n_files = max(1, -(-(stats["_n"] or 1) // rows_per_file))
    if any(v is None for v in mins + maxs):
        # a clustering column with no non-null values has no range to tile;
        # degrade to a plain sized write rather than fail the ingest
        df.repartition(n_files).write.mode(mode).option(
            "maxRecordsPerFile", rows_per_file
        ).parquet(path)
        return
    z = zorder_value([F.col(c) for c in cols], bits=bits, mins=mins, maxs=maxs)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .option("maxRecordsPerFile", rows_per_file)
        .parquet(path)
    )


def build_minmax_sidecar(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-FILE min/max/count statistics for ``cols`` — a manifest-style
    data-skipping index (the Delta/Iceberg file-stats idea without a table
    format): one row per parquet file with ``min_<c>``/``max_<c>`` bounds.

    Built with one column-pruned scan grouped by ``input_file_name()``
    (only the indexed columns are read).  At 100 TB the sidecar should be
    maintained INCREMENTALLY at write time (stat the files each job just
    wrote, append to the sidecar) — this full-scan builder is the bootstrap
    / repair path.  Pair with a clustered layout (``write_sized(range_by=…)``
    or ``write_zordered``) — statistics only skip files whose bounds are
    tight."""
    return _minmax_stats_for_files(spark, [path], cols)


def _minmax_stats_for_files(
    spark: SparkSession, files: list[str], cols: list[str]
) -> DataFrame:
    """Per-file min/max/count rows for an EXPLICIT file list — the shared
    stat pass of the bootstrap builder and the incremental appender (one
    column-pruned scan of just those files)."""
    agg = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        agg += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*agg)
    )


def append_with_sidecar(
    df: DataFrame,
    path: str,
    cols: list[str],
    sidecar_path: str,
) -> None:
    """Append ``df`` to the parquet directory at ``path`` AND incrementally
    maintain its min/max sidecar — the stat-what-you-wrote path that
    :func:`build_minmax_sidecar`'s docstring names as the at-scale
    requirement (the full-scan builder stays the bootstrap/repair tool).

    Stats ONLY the files this write created (directory listing diff around
    the write — the local equivalent of reading the job's commit manifest,
    which is where the file list comes from on an object store) with one
    column-pruned scan, and appends those rows to the sidecar parquet at
    ``sidecar_path``.  Cost per ingest: O(new files), never a rescan of the
    table — at 100 TB the sidecar keeps up with the write rate because its
    maintenance touches exactly the data the job already had in flight.

    The resulting sidecar is row-identical to a fresh
    ``build_minmax_sidecar`` over the whole directory (pinned in
    tests/test_sources.py); :func:`compact_sidecar` rebuilds it from
    scratch when repair is needed (lost sidecar, compacted data files).

    FAILURE WINDOW: the data append commits before the sidecar append, so
    a crash between the two leaves files the sidecar doesn't list — and
    because :func:`read_pruned_by_sidecar` treats the sidecar as the file
    MANIFEST, those files' rows would be silently absent from pruned
    reads, not merely unpruned.  After any interrupted ingest run
    :func:`verify_sidecar_manifest` (cheap listing diff) and repair via
    :func:`compact_sidecar`; a production deployment makes the pair
    atomic by committing both under one table-format transaction."""
    import os

    def _data_files() -> set[str]:
        if not os.path.isdir(path):
            return set()
        return {
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }

    spark = df.sparkSession
    before = _data_files()
    df.write.mode("append").parquet(path)
    new = sorted(_data_files() - before)
    if not new:
        return
    stats = _minmax_stats_for_files(
        spark, [os.path.join(path, f) for f in new], cols
    )
    stats.write.mode("append").parquet(sidecar_path)


def load_sidecar(spark: SparkSession, sidecar_path: str) -> DataFrame:
    """Read a persisted sidecar (appended by :func:`append_with_sidecar`)
    for use with :func:`read_pruned_by_sidecar`."""
    return spark.read.parquet(sidecar_path)


def verify_sidecar_manifest(
    spark: SparkSession, path: str, sidecar: DataFrame
) -> list[str]:
    """Data files ABSENT from the sidecar (empty list = consistent).

    The sidecar is the file MANIFEST for pruned reads, so a gap (crashed
    ingest between the data append and the sidecar append) silently drops
    those files' rows from every pruned query — run this after any
    interrupted ingest and repair with :func:`compact_sidecar` (or stat
    just the returned files and append).  One directory listing + the
    (tiny) sidecar collect; no data scan."""
    import os

    data = {
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }
    listed = {
        r["file"].rsplit("/", 1)[-1]
        for r in sidecar.select("file").collect()
    }
    return sorted(data - listed)


def compact_sidecar(
    spark: SparkSession, path: str, cols: list[str], sidecar_path: str
) -> None:
    """Repair/compact entry point: rebuild the sidecar from a full scan of
    ``path`` (the bootstrap builder) and swap it in — run after data-file
    compaction, bound drift, or sidecar loss.  The rebuild lands in a
    fresh directory and two renames publish it: readers see old-or-new
    rows, never half, though (as in :func:`compact_parquet_dir`) the two
    renames are not jointly atomic — a read in the gap fails rather than
    returning wrong rows, and a crash leaves the old sidecar under the
    ``.old-*`` sibling."""
    import os
    import shutil
    import uuid

    tmp = f"{sidecar_path}.rebuild-{uuid.uuid4().hex[:8]}"
    build_minmax_sidecar(spark, path, cols).write.mode("overwrite").parquet(
        tmp
    )
    old = f"{sidecar_path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(sidecar_path):
        os.replace(sidecar_path, old)
    os.replace(tmp, sidecar_path)
    if os.path.isdir(old):
        shutil.rmtree(old, ignore_errors=True)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    *,
    rows_per_file: int,
    range_by: list[str] | None = None,
    sidecar_cols: list[str] | None = None,
    sidecar_path: str | None = None,
) -> None:
    """Small-files maintenance: rewrite a parquet directory at the target
    file size (:func:`write_sized` — optionally range-clustered so the
    compaction also tightens data-skipping bounds) and swap the result in
    via two renames.  A reader never sees a MIX of old and new files, but
    directory renames are not jointly atomic: between the two renames the
    path briefly does not exist (a concurrent read errors rather than
    returning wrong rows — fail-stop, not corruption), and a crash there
    leaves the data intact under the ``.old-*`` sibling for manual
    recovery.  Concurrent-reader deployments should publish through a
    pointer file instead (the ``_CURRENT`` pattern of
    streaming/sink.py::foreach_batch_merge_upsert, which IS atomic via
    one ``os.replace`` of the pointer).  If the directory has a min/max
    sidecar, pass
    ``sidecar_cols``/``sidecar_path`` and the sidecar is rebuilt to match
    the new files (:func:`compact_sidecar`) — a stale sidecar after
    compaction would prune against files that no longer exist.

    This is the OPTIMIZE step of the incremental-ingest lifecycle:
    :func:`append_with_sidecar` accumulates small batch files cheaply;
    this periodically collapses them to scan-sized files.  At 100 TB run
    it per partition/time-slice, not per table — each invocation reads and
    rewrites only the slice it compacts."""
    import os
    import shutil
    import uuid

    df = spark.read.parquet(path)
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    write_sized(df, tmp, rows_per_file=rows_per_file, range_by=range_by)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    if sidecar_cols and sidecar_path:
        compact_sidecar(spark, path, sidecar_cols, sidecar_path)


#: Fallback threshold for the sidecar-pruned readers: when the surviving
#: file set is at least this fraction of the sidecar, hand the reader the
#: DIRECTORY plus the residual predicate instead of an explicit path list.
#: The collected list is bounded by |surviving files|, not table size —
#: selective reads on a 10⁶-file layout still collect only their own few
#: files — but an UNSELECTIVE predicate would otherwise ship ~all paths to
#: the driver and back into the reader (tens of MB of strings at 100 TB)
#: to save almost no I/O.  Above the threshold, pruning buys < 1/5 of the
#: scan; the directory read costs at most that much extra I/O and keeps
#: planning O(1).  Partition-value pruning (month/date directories +
#: `load_table`'s partition filters) remains the PRIMARY path for layouts
#: where a partition column carries the predicate — the sidecar is for
#: value ranges finer than the partition grain (see SCALING.md).
_PRUNE_FALLBACK_RATIO = 0.8


def _read_surviving(spark, path, sidecar, surviving, residual, schema):
    """Shared tail of the sidecar-pruned readers: collect the surviving
    file list (bounded by predicate selectivity), or fall back to the
    directory scan when pruning would not pay (see
    :data:`_PRUNE_FALLBACK_RATIO`).  The residual predicate makes both
    shapes row-identical to the unpruned filtered scan.

    The ratio check runs on COUNTS before any path string reaches the
    driver (review r8): collecting first would materialize ~10⁶ paths on
    an unselective predicate just to discard them — the exact
    driver-memory cost the fallback exists to avoid.  Both counts are
    sidecar-sized jobs (KB–MB)."""
    n_total = sidecar.count()
    n_surv = surviving.count()
    full_schema = schema if schema is not None else file_schema(spark, path)
    if n_surv == 0:
        return spark.read.schema(full_schema).parquet(path).filter(F.lit(False))
    if n_total > 0 and n_surv >= _PRUNE_FALLBACK_RATIO * n_total:
        return spark.read.schema(full_schema).parquet(path).filter(residual)
    files = [r["file"] for r in surviving.select("file").collect()]
    return spark.read.schema(full_schema).parquet(*files).filter(residual)


def read_pruned_by_sidecar(
    spark: SparkSession,
    path: str,
    sidecar: DataFrame,
    col: str,
    lo,
    hi,
    closed: str = "left",
    schema=None,
) -> DataFrame:
    """Range read over a parquet directory with PLANNING-TIME file pruning:
    the (tiny) sidecar picks the files whose [min, max] overlaps [lo, hi),
    and only those files are handed to the reader — no other file is listed,
    opened, or footer-parsed.

    Parquet's own row-group statistics skip data too, but only AFTER every
    footer is fetched; with millions of files on an object store the footer
    round-trips are the planning bottleneck this sidecar removes.  The exact
    range predicate is re-applied as a residual (``closed``: "left" =
    ``[lo, hi)``, "both" = ``[lo, hi]``), so results are row-identical to
    the unpruned filtered scan for any RANGE predicate on ``col``.  Files
    with NULL bounds (no non-null values in ``col``) are skipped — sound
    here because no NULL row satisfies a range predicate; an IS NULL
    workload must not use this path.

    Pass ``schema`` (the writer's StructType) to make the zero-listing
    claim literal: without it, one directory listing + one footer read
    resolve the schema at planning time (fine locally; at object-store
    scale the schema belongs next to the sidecar, not re-derived)."""
    if closed not in ("left", "both"):
        raise ValueError(f"closed must be 'left' or 'both', got {closed!r}")
    res = (F.col(col) >= lo) & (
        (F.col(col) <= hi) if closed == "both" else (F.col(col) < hi)
    )
    upper = (F.col(f"min_{col}") <= hi) if closed == "both" else (
        F.col(f"min_{col}") < hi
    )
    surviving = sidecar.filter((F.col(f"max_{col}") >= lo) & upper)
    return _read_surviving(spark, path, sidecar, surviving, res, schema)


def read_pruned_box(
    spark: SparkSession,
    path: str,
    sidecar: DataFrame,
    preds: list[tuple],
    schema=None,
) -> DataFrame:
    """Multi-dimensional box read with planning-time file pruning: the
    conjunction of half-open ranges ``[lo, hi)`` per ``(col, lo, hi)`` in
    ``preds``, each tested against the sidecar's per-file min/max bounds.

    This is the reader :func:`write_zordered` exists for: a 1-D clustering
    makes only its own column's bounds tight, so a 2-D box still opens
    every file in the matching 1-D slab; Z-ordered files bound EVERY
    clustered dimension at once, and the per-dimension overlap conjunction
    here skips any file whose tile misses the box in ANY dimension
    (pinned in tests/test_sources.py).  Same soundness contract as
    :func:`read_pruned_by_sidecar`: NULL-bound files are skipped — no
    NULL row satisfies a range predicate — and the exact box is re-applied
    as the residual, so results are row-identical to the unpruned scan."""
    if not preds:
        raise ValueError("preds must name at least one (col, lo, hi) range")
    res = F.lit(True)
    keep = F.lit(True)
    for col, lo, hi in preds:
        res = res & (F.col(col) >= lo) & (F.col(col) < hi)
        keep = keep & (F.col(f"max_{col}") >= lo) & (F.col(f"min_{col}") < hi)
    return _read_surviving(spark, path, sidecar, sidecar.filter(keep), res, schema)


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Partition-level upsert: overwrite ONLY the partitions present in
    ``df``, leaving every other partition untouched — the daily-reload
    primitive for month/date-partitioned facts (the reference's YYYYMM
    layout) without a table format.

    Uses dynamic partition overwrite scoped to THIS writer via the
    DataFrameWriter option (not the session conf), so concurrent static
    writers are unaffected.  At 100 TB: the job writes |changed partitions|
    of data; an unscoped overwrite would delete the table."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_evolving(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Read a parquet corpus whose files were written under EVOLVING schemas
    (columns added over time): ``mergeSchema`` unions all file footers into
    one schema; rows from older files surface NULL for later columns.

    Scale note: mergeSchema reads every file footer at planning time (a
    driver-side listing cost, not a data scan) — acceptable for the
    occasional evolving corpus, but a STABLE explicit schema read
    (``spark.read.schema(s).parquet``) is the hot-path default everywhere
    else in this package; use this only at evolution boundaries."""
    return spark.read.option("mergeSchema", "true").parquet(
        *(path if isinstance(path, list) else [path])
    )
