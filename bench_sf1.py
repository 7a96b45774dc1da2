"""10x scale-up dataset for bench.py's sf1 scaling row (``bench.run_sf1``).

Derives an ~sf1 dataset from the driver-provided sf0.1 tables (TESTDATA.md
— never synthesized from scratch: every row is a transform of a real row,
so distributions, null patterns and value ranges are inherited). Ten
copies of each FACT table, with content perturbed per copy so that
pairwise operators see realistic density rather than a 10-identical-
copies explosion:

- documents: ids shifted by copy; text alphabet-ROTATED per copy (copy 0
  untouched). Rotation preserves length, whitespace, token structure and
  per-doc statistics, but changes every shingle — cross-copy near-dup
  pairs do not exist, exactly like genuinely new documents.
- embeddings: ids shifted; the vector is cyclically rotated per copy —
  norm-preserving, so similarity distributions stay comparable while
  cross-copy cosine neighborhoods are genuinely different.
- events: event ids and user ids shifted per copy — 10x users with the
  same per-user event density (sessionization work scales in users, the
  realistic axis).
- lineitem/orders: orderkeys shifted per copy CONSISTENTLY across both
  tables; customer/part/supplier foreign keys are kept, so the fact
  tables grow 10x against fixed dimensions (the usual warehouse shape)
  and every join stays referentially intact.

Dimension tables (region nation customer supplier part) are copied
through unscaled. The result is cached under /tmp and reused across
bench runs (marker file; rebuilt if the cache is incomplete).
"""

from __future__ import annotations

import os
import shutil
import string
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.session import read_table

N_COPIES = 10
SCALED = ("documents", "embeddings", "events", "lineitem", "orders")
DIMS = ("region", "nation", "customer", "supplier", "part")


def _rotated(s: str, i: int) -> str:
    return s[i:] + s[:i]


def _copy_expr(table: str, df: DataFrame, i: int, keys: dict[str, int]):
    """The per-copy projection for copy ``i`` (copy 0 is the identity)."""
    if table == "documents":
        lo = string.ascii_lowercase
        up = string.ascii_uppercase
        text = (
            F.col("text") if i == 0
            else F.translate(
                F.col("text"), lo + up, _rotated(lo, i) + _rotated(up, i)
            )
        )
        return df.select(
            (F.col("doc_id") + i * keys["doc_id"]).alias("doc_id"),
            text.alias("text"),
            "lang", "source", "n_chars",
        )
    if table == "embeddings":
        dim = keys["_emb_dim"]
        emb = (
            F.col("embedding") if i == 0
            else F.concat(
                F.slice("embedding", i + 1, dim - i), F.slice("embedding", 1, i)
            )
        )
        return df.select(
            (F.col("vec_id") + i * keys["vec_id"]).alias("vec_id"),
            emb.alias("embedding"),
            *[c for c in df.columns if c not in ("vec_id", "embedding")],
        )
    if table == "events":
        return df.select(
            (F.col("event_id") + i * keys["event_id"]).alias("event_id"),
            "ts",
            (F.col("user_id") + i * keys["user_id"]).alias("user_id"),
            "event_type", "value", "props",
        )
    if table == "lineitem":
        return df.select(
            (F.col("l_orderkey") + i * keys["o_orderkey"]).alias("l_orderkey"),
            *[c for c in df.columns if c != "l_orderkey"],
        )
    if table == "orders":
        return df.select(
            (F.col("o_orderkey") + i * keys["o_orderkey"]).alias("o_orderkey"),
            *[c for c in df.columns if c != "o_orderkey"],
        )
    raise ValueError(table)


def ensure_sf1(spark: SparkSession, sf01_dir: str) -> str:
    """Build (or reuse) the 10x dataset; returns its directory."""
    out = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    # key strides: one aggregate over the small key columns
    docs = read_table(spark, sf01_dir, "documents")
    emb = read_table(spark, sf01_dir, "embeddings")
    ev = read_table(spark, sf01_dir, "events")
    orders = read_table(spark, sf01_dir, "orders")
    keys = {
        "doc_id": docs.agg(F.max("doc_id")).first()[0] + 1,
        "vec_id": emb.agg(F.max("vec_id")).first()[0] + 1,
        "event_id": ev.agg(F.max("event_id")).first()[0] + 1,
        "user_id": ev.agg(F.max("user_id")).first()[0] + 1,
        "o_orderkey": orders.agg(F.max("o_orderkey")).first()[0] + 1,
        "_emb_dim": len(emb.select("embedding").first()[0]),
    }
    for table in SCALED:
        df = read_table(spark, sf01_dir, table)
        copies = _copy_expr(table, df, 0, keys)
        for i in range(1, N_COPIES):
            copies = copies.unionByName(_copy_expr(table, df, i, keys))
        copies.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    for table in DIMS:
        src = f"{sf01_dir}/{table}.parquet"
        dst = f"{out}/{table}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    with open(marker, "w") as fh:
        fh.write("ok")
    print(
        f"bench: sf1 dataset built in {time.perf_counter() - t0:.1f}s at {out}",
        file=sys.stderr,
    )
    return out
