"""SparkSession factory and table loading.

Scale notes (100 TB design): every knob here is sized by environment so the
same code runs on local[32] for tests and on a 1000-executor cluster in
production. AQE is always on — it re-plans joins (broadcast conversion),
coalesces shuffle partitions, and splits skewed partitions at runtime, which
is the main defense against skew at scale without hand-salting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def get_spark(app_name: str = "meshinsights-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on: runtime join re-planning, partition coalescing, skew-join splits.
    - Arrow on: vectorized pandas interchange for the applyInPandas operators.
    - shuffle.partitions: CPU count locally; on a real cluster, set explicitly
      (2-3x total cores) or let AQE coalesce from a high initial value.
    - files.maxPartitionBytes: 128m default; at 100 TB size it so a scan task's
      input fits executor memory AFTER decompression (wide parquet rows can
      expand 5-10x) — $SPARK_GRAFT_MAX_PARTITION_BYTES overrides.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


# Columns written as parquet TIMESTAMP(NANOS), which Spark's vectorized reader
# rejects by default. Read them as nanosecond longs and convert to µs
# timestamps exactly (the testdata carries no sub-µs component; integer `div`
# avoids double-precision loss on ~1.7e18 nanosecond values).
NS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Any operator whose UDF closure references package modules (the
    mapInPandas paths: batch LLM calls, multimodal decode and features)
    must call this first — cloudpickle serializes module functions by
    reference, so workers need the package importable regardless of the
    caller's working directory.
    """
    marker = "meshinsights.pyfile.shipped"
    try:
        if spark.conf.get(marker, None) == "1":
            return
    except Exception:
        pass
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="mesh_pkg_")
    zip_base = os.path.join(tmp, "meshinsights_data_pipeline_spark")
    # zip with the package as the top-level directory inside the archive
    shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                        os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_base + ".zip")
    spark.conf.set(marker, "1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with type normalization (ns-timestamp decode).

    Also pins the session timezone to UTC: timestamp literals (BETWEEN
    bounds), date_trunc and to_date all parse/render in session tz, and the
    DuckDB oracle treats the stored values as naive — UTC is the only
    session tz under which both engines agree for any caller-built session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = NS_TS_COLS.get(name, ())
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def list_tables(spark: SparkSession) -> list[str]:
    """Catalog table listing — parity with the reference ADX connector's
    ``.show tables | project TableName`` helper (adx_plugin.py:301-304),
    answered by the session catalog instead of a remote engine."""
    return sorted(t.name for t in spark.catalog.listTables())


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True) -> dict[str, DataFrame]:
    """Load the testdata star schema as lazy DataFrames; register temp views.

    Parquet scans get predicate pushdown + column pruning from Catalyst for
    free; no materialization happens here.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
