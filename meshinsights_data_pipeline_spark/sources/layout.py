"""Write-side table layout: partitioned parquet without the small-files
problem.

100 TB rationale: a naive ``df.write.partitionBy(date)`` emits one file per
(task x partition-value) — with 200 tasks x 365 days that is 73k files of a
few MB each, and every downstream scan pays per-file open cost and loses
row-group-level pruning. Repartitioning by the partition columns first
collapses this to ~1 file per partition value (plus optional within-file
ordering so min/max statistics actually prune).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    sort_within: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet write with controlled file counts.

    ``files_per_partition`` > 1 adds a salt so very large partition values
    still parallelize; ``sort_within`` orders rows inside each file so
    parquet min/max statistics prune at row-group granularity.
    """
    out = df
    if files_per_partition <= 1:
        out = out.repartition(*[F.col(c) for c in partition_cols])
    else:
        salt = (F.rand(seed=7) * files_per_partition).cast("int")
        out = out.repartition(*([F.col(c) for c in partition_cols] + [salt]))
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def idempotent_epoch_append(df: DataFrame, path: str, epoch_id: int) -> None:
    """Exactly-once-per-epoch append for ``foreachBatch`` sinks on plain
    parquet: rows land under ``path/_epoch=<id>/`` with dynamic partition
    overwrite, so a RETRY of the same micro-batch replaces its own
    epoch's files instead of duplicating them — Structured Streaming's
    epoch id is stable across retries, which is exactly the idempotence
    key the at-least-once ``mode("append")`` write lacks. Readers scan
    ``path`` normally (the ``_epoch`` column is partition metadata;
    ``drop("_epoch")`` it, or select explicit columns).

    This is the plain-parquet stand-in for a transactional table format's
    idempotent epoch commit; swap for Delta/Iceberg ``txnAppId`` writes
    where one is available.

    The overwrite mode is set per-write (``.option``) rather than by
    mutating the session conf: a save/restore of the session-level
    ``partitionOverwriteMode`` races with any concurrent write sharing the
    same SQLConf, and a partitioned overwrite observed under ``static``
    would delete every other ``_epoch`` partition in the target table.

    Layout guard: a table seeded under the old at-least-once default is
    FLAT parquet (data files directly under ``path``). Appending
    ``_epoch=`` partition directories next to flat files would only blow
    up LATER, at read time, as a partition-discovery error far from the
    cause — so a flat pre-existing table is rejected here, at the first
    idempotent write, with the migration step in the message.
    """
    _reject_flat_table(df.sparkSession, path)
    (
        df.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(path)
    )


def _reject_flat_table(spark: SparkSession, path: str) -> None:
    """Raise if ``path`` holds any FLAT parquet data file (top-level,
    outside ``_epoch=`` directories): mixing the epoch layout with flat
    files fails partition discovery on the next read. Two ways to get
    here, both rejected at WRITE time where the cause is visible:

    - cold start against a table seeded under the legacy at-least-once
      flat layout (no ``_epoch=`` dirs at all), and
    - a RESUMED stream whose target directory gained flat files mid-run
      (an upgrade-in-place gone wrong) — epoch dirs exist from earlier
      micro-batches, but the next read would still die on the mixed
      layout, far from the cause.

    Migration: re-seed once with
    ``idempotent_epoch_append(spark.read.parquet(old), new_dir,
    epoch_id=-1)`` (or move the flat files under ``_epoch=-1/``)."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return
    has_epoch_dir = False
    flat_file = None
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("_epoch="):
            has_epoch_dir = True
        elif st.isFile() and not name.startswith("_") and name != "_SUCCESS":
            flat_file = name
    if flat_file:
        detail = (
            "flat data files appeared NEXT TO existing _epoch= "
            "partitions (mid-run layout corruption)"
            if has_epoch_dir
            else "holds a flat parquet table"
        )
        raise ValueError(
            f"{path} {detail} (e.g. {flat_file!r}) — "
            "appending _epoch= partitions to it would break partition "
            "discovery at read time. Migrate the seed first: "
            "idempotent_epoch_append(spark.read.parquet(path), new_dir, "
            "epoch_id=-1), or pass idempotent=False to keep the legacy "
            "flat at-least-once layout."
        )


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    """Sorted version numbers of COMMITTED snapshots under ``path``
    (``_v=<n>/`` directories that contain Spark's ``_SUCCESS`` marker —
    a directory without it is a crashed, partial write and is ignored)."""
    fs, jpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("_v=")):
            continue
        try:
            v = int(name[3:])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            out.append(v)
    return sorted(out)


def snapshot_overwrite(
    df: DataFrame, path: str, version: int, keep: int = 2
) -> None:
    """Crash-safe full rewrite for an accumulating table that is maintained
    by repeated overwrites (e.g. a streaming labels table): each rewrite
    lands in its own ``path/_v=<version>/`` directory, so the previous
    snapshot is never touched while the new one is written. A crash
    mid-write leaves a version directory WITHOUT ``_SUCCESS``, which
    ``latest_snapshot`` skips — readers always see the last committed
    snapshot, never a partial rewrite (a plain ``mode("overwrite")`` of one
    fixed path deletes the old files before the new job commits, so a crash
    in that window loses the whole table). Re-running the same version
    (micro-batch retry uses the stable epoch id) replaces only its own
    directory — idempotent per epoch.

    Snapshots older than the newest ``keep`` committed versions are pruned
    AFTER the new snapshot commits, never before. Uncommitted directories
    (no ``_SUCCESS`` — a crashed write) older than the newest committed
    version are also removed: they can never become the latest snapshot and
    are only rewritten if their exact epoch retries, so without this they
    would accumulate partial-write garbage forever.
    """
    spark = df.sparkSession
    df.write.mode("overwrite").parquet(f"{path}/_v={int(version)}")
    committed = snapshot_versions(spark, path)
    if committed:
        fs, jpath, jvm = _hadoop_fs(spark, path)
        newest = committed[-1]
        floor = committed[-keep] if len(committed) > keep else committed[0]
        committed_set = set(committed)
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("_v=")):
                continue
            try:
                v = int(name[3:])
            except ValueError:
                continue
            stale_committed = v < floor
            stale_uncommitted = v not in committed_set and v < newest
            if stale_committed or stale_uncommitted:
                fs.delete(st.getPath(), True)


def snapshot_overwrite_read(
    df: DataFrame, path: str, version: int, keep: int = 2
) -> DataFrame:
    """``snapshot_overwrite`` + read-back of the just-committed version.

    The streaming twins all need the merged state twice per epoch — once
    for the snapshot write, once for the epoch report — and must not
    compute the report from a plan that references the state dir being
    overwritten. The original idiom was ``merged.localCheckpoint()``
    (job 1) then the snapshot write (job 2) then the report (job 3).
    The write itself is already a full materialization, so this helper
    drops the checkpoint job: write straight from the lazy plan (job 1)
    and hand consumers a scan of the committed ``_v=<version>`` files
    (the report becomes job 2 over a tiny parquet read). One fewer
    Spark job per twin per epoch, identical bytes either way (r16
    optimization round; measured on streaming_stat_ingest_e2e — see
    OPTIMIZATION_r16.md)."""
    spark = df.sparkSession
    snapshot_overwrite(df, path, version, keep=keep)
    return spark.read.parquet(f"{path}/_v={int(version)}")


def latest_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read the newest committed snapshot written by ``snapshot_overwrite``.
    Raises if no committed snapshot exists (cold table or all writes
    crashed) — callers seed with ``snapshot_overwrite(seed, path, -1)``."""
    versions = snapshot_versions(spark, path)
    if not versions:
        raise FileNotFoundError(
            f"no committed snapshot (_v=*/_SUCCESS) under {path}; seed with "
            "snapshot_overwrite(df, path, version=-1)"
        )
    return spark.read.parquet(f"{path}/_v={versions[-1]}")


def columns_ddl(df: DataFrame, cols: list[str]) -> str:
    """DDL for ``cols`` with their types in ``df``: the key part of a
    state schema whose keys come from the source."""
    return ", ".join(
        "`{}` {}".format(c.replace("`", "``"), df.schema[c].dataType.simpleString())
        for c in cols
    )


def snapshot_before(
    spark: SparkSession, path: str, version: int, schema: str | None = None
) -> DataFrame:
    """Read the newest committed snapshot with version STRICTLY BELOW
    ``version``. This is the retry-safe read for NON-idempotent merges
    (e.g. summed counts): on a micro-batch retry the latest committed
    snapshot can be this same epoch's own earlier attempt, and re-merging
    the batch into it would double-count — reading strictly below the
    current epoch pins the input to the pre-epoch state, so the merge is
    a pure function of (previous state, batch) on every attempt.
    (``latest_snapshot`` is fine for idempotent merges like label
    propagation, where re-merging is a no-op.)

    ``schema`` (a DDL string) skips parquet schema inference, a Spark job
    per read; pass it when the caller knows the state's types."""
    versions = [v for v in snapshot_versions(spark, path) if v < version]
    if not versions:
        raise FileNotFoundError(
            f"no committed snapshot below _v={version} under {path}; seed "
            "with snapshot_overwrite(df, path, version=-1)"
        )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{path}/_v={versions[-1]}")


def zorder_value(
    cols: list, bits: int = 8
) -> "F.Column":
    """Interleaved-bit (Morton / Z-order) value over 2+ pre-bucketed
    dimension columns — each input must already be an integer bucket
    index in [0, 2^bits). Bit i of dimension d lands at position
    i * n_dims + d, so the combined key preserves locality in EVERY
    dimension at once: sorting/range-partitioning by it clusters rows
    that are close in any dimension into the same files.

    Pure integer expression (shifts via multiplication, masks via
    pmod/floor) — map-side, engine-portable, no UDF.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs at least 2 dimension columns")
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        v = F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
        for i in range(bits):
            bit = F.floor(v / F.lit(1 << i)) % 2
            z = z + bit * F.lit(1 << (i * n + d))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    dim_cols: list[str],
    dim_bounds: dict[str, tuple[float, float]],
    bits: int = 8,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional clustering for data skipping: bucket each
    dimension into 2^bits equal-width bins over ``dim_bounds``
    (pre-computed bounds — pass stats from a prior aggregate, not a
    driver-side scan here), range-partition by the interleaved Z-value
    into ``n_files`` output files, and sort within files by it.

    Why this beats sorting by one column at 100 TB: a lexicographic sort
    on (a, b) prunes scans filtered on ``a`` but does nothing for
    filters on ``b`` alone — its worst-case dimension scans every file.
    The Z-order curve trades a little locality on each dimension for
    min/max locality on ALL of them simultaneously (a filter fixing the
    top b bits of one dimension touches ~min(2^b, n_files) files instead
    of all of them), so parquet statistics prune selective filters on
    any clustered column — the same technique behind Delta/Iceberg
    OPTIMIZE ZORDER.
    """
    mx = (1 << bits) - 1
    bucketed = df
    bcols = []
    for c in dim_cols:
        lo, hi = dim_bounds[c]
        if not hi > lo:
            raise ValueError(f"bounds for {c} must satisfy hi > lo, got {lo}, {hi}")
        b = F.least(
            F.lit(mx),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    * (1 << bits)
                    / F.lit(float(hi) - float(lo))
                ),
            ),
        )
        bc = f"_zb_{c}"
        bucketed = bucketed.withColumn(bc, b.cast("long"))
        bcols.append(bc)
    with_z = bucketed.withColumn("_z", zorder_value(bcols, bits))
    (
        with_z.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z", *bcols)
        .write.mode(mode)
        .parquet(path)
    )


def snapshot_diff(
    spark: SparkSession,
    path: str,
    old_version: int,
    new_version: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level delta between two committed snapshot versions of a
    layout table: [key_cols..., change] with change in
    ('added', 'removed', 'changed') — the audit every incremental
    pipeline wants after an ingest epoch ("what did this batch actually
    do to the table?").

    One full outer join on the key columns; non-key columns compare via
    a single xxhash64 over all of them (computed map-side on each
    snapshot scan, so the join carries keys + one long — never wide
    rows). Unchanged rows are omitted. Work scales with the two
    snapshot sizes, not table history.
    """
    if not key_cols:
        raise ValueError("snapshot_diff needs at least one key column")
    committed = set(snapshot_versions(spark, path))
    for v in (old_version, new_version):
        if v not in committed:  # an implicit older-version fallback would
            # silently diff the wrong snapshot pair
            raise FileNotFoundError(
                f"snapshot _v={v} not committed under {path}; "
                f"committed: {sorted(committed)}"
            )

    def keyed(version: int, tag: str) -> DataFrame:
        df = spark.read.parquet(f"{path}/_v={version}")
        non_key = [c for c in df.columns if c not in key_cols]
        row_hash = (
            F.xxhash64(*[F.col(c) for c in non_key]) if non_key else F.lit(0)
        )
        return df.select(
            *[F.col(c) for c in key_cols], row_hash.alias(f"_h_{tag}")
        )

    old = keyed(old_version, "old")
    new = keyed(new_version, "new")
    joined = old.join(new, key_cols, "full_outer")
    change = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )
