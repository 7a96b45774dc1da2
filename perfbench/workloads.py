"""The benchmark's workloads. Each is a closed loop with one client over
the package's public API:

- ``query_mix``: a seeded, fixed cycle of declared queries; an op is
  ``QUERIES[name].spark`` followed by a noop write.
- ``fleet_ingest``: ingest then analyse. An op lands one fixed-size batch
  of fleet telemetry in a file source and waits on
  ``processAllAvailable()`` of a running query whose ``foreachBatch`` runs
  the CUSUM and rolling-stats twins through ``parallel_batch``; it then
  reads one device's telemetry, sessionizes it and runs
  ``run_power_analysis`` (``Pipeline.run`` over the 7 power steps). Its two
  halves are the ``HvacFleet`` and ``StreamIngest`` parts below.

A workload exposes ``setup()``, ``warmup()`` (untimed ops, charged to
``setup_s``), ``cycle(k)`` (the k-th cycle of timed ops, a list of
``(key, op)`` pairs), ``op_ok(key, result)``, ``progress(result)`` and
``final_check()``.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import du

QUERY_SF = 0.01
# The three strata: build-heavy barrier, execution-heavy, short scan. Warm
# latencies on 4 cores are about 2.4, 1.6 and 1.7, and 0.45 s, so a cycle
# takes 6 to 7.5 s and its median op is the mean of the two
# execution-heavy ones. With a single execution-heavy query the median was
# one sample and moved by a quarter from run to run.
BUILD_HEAVY = ("x70_dsir_weights",)
EXEC_HEAVY = ("x04_ngram_jaccard", "q25")
SHORT_SCANS = ("q01",)
QUERY_CYCLE = BUILD_HEAVY + EXEC_HEAVY + SHORT_SCANS


def noop_write(df) -> None:
    """The action every query op ends with: execute, discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _digest(df) -> tuple:
    """Row count and order-free sum of 64-bit row hashes: equal digests
    mean equal multisets of rows, up to hash collisions."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return row[0], row[1]


class Workload:
    # Nominal seconds per timed cycle on 4 cores. It only turns --seconds
    # into a cycle count; it is never compared with a measured time.
    CYCLE_S = 1.0

    def __init__(self, spark, seed: int, work: str, tracer=None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.rng = np.random.default_rng([seed, 99])
        self.failed_keys: set = set()

    def cycles_for(self, seconds: float) -> int:
        """Timed cycles for a ``seconds`` window: a pure function of
        ``seconds``, so a faster program runs the same ops, only sooner."""
        return max(1, round(seconds / self.CYCLE_S))

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op_ok(self, key, result) -> bool:
        return True

    def progress(self, result) -> dict | None:
        """The streaming query's progress report an op returned, if any."""
        return None

    def final_check(self) -> bool:
        return True

    def state_bytes(self) -> int:
        return 0

    def close(self) -> None:
        pass


class QueryMix(Workload):
    """Seeded fixed cycle of declared queries over generated tables."""

    CYCLE_S = 7.0

    def setup(self) -> None:
        self.dir = os.path.join(self.work, "tables")
        os.makedirs(self.dir)
        for name, table in gen.query_tables(self.seed, QUERY_SF).items():
            pq.write_table(table, os.path.join(self.dir, f"{name}.parquet"))

    def _op(self, name: str):
        from meshinsights_data_pipeline_spark.plans.queries import QUERIES

        def op():
            df = QUERIES[name].spark(self.spark, self.dir)
            with self.span("operators.action"):
                noop_write(df)
        return op

    def warmup(self):
        """Each distinct query once, in a fixed order so that the cold first
        op is the same query on every seed, with ``collect`` as its action
        and the rows checked against the query's DuckDB oracle (a failed
        check fails every op of that query)."""
        for name in QUERY_CYCLE:
            yield name, self._checked_op(name)

    def cycle(self, k: int):
        return [(n, self._op(n)) for n in self.rng.permutation(QUERY_CYCLE)]

    def _checked_op(self, name: str):
        from meshinsights_data_pipeline_spark.plans.queries import QUERIES
        from tests.oracle_harness import compare

        def op():
            df = QUERIES[name].spark(self.spark, self.dir)
            report = compare(df, QUERIES[name].oracle, self.dir)
            if not (report["values_match"] and report["cols_match"] and report["rows_spark"]):
                self.failed_keys.add(name)
        return op


class HvacFleet(Workload):
    """The analyse half of ``fleet_ingest``: per-device power analysis over
    planted fleet telemetry."""

    def setup(self) -> None:
        table, self.devices = gen.fleet(self.seed)
        self.dir = os.path.join(self.work, "fleet")
        os.makedirs(self.dir)
        path = os.path.join(self.dir, "telemetry.parquet")
        ids = table.column("device_id").to_numpy()
        with pq.ParquetWriter(path, table.schema) as w:
            for d in self.devices:  # one row group per device
                w.write_table(table.filter(pa.array(ids == d.device_id)))

    def _op(self, device):
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.analytics.power_pipeline import run_power_analysis
        from meshinsights_data_pipeline_spark.operators.sessionize import sessionize
        from meshinsights_data_pipeline_spark.session import read_table

        def op():
            rows = read_table(self.spark, self.dir, "telemetry").filter(
                F.col("device_id") == device.device_id)
            telemetry = sessionize(rows, "tstate", ["timeStamp", "row_id"], ["device_id"])
            return run_power_analysis(telemetry)
        return op

    def ops(self) -> list:
        """``(device_id, op)`` for every device."""
        return [(d.device_id, self._op(d)) for d in self.devices]

    def op_ok(self, key, ctx) -> bool:
        """Every stage's variance class, reason family and issues match the
        planted behaviour; the AI step ran iff a stage is High."""
        device = next(d for d in self.devices if d.device_id == key)
        if set(ctx.variance_analysis) != set(device.expect):
            return False
        for stage, (variance, reason, issues) in device.expect.items():
            got = ctx.variance_analysis[stage]
            if got["variance"] != variance or not got["reason"].startswith(reason):
                return False
            if tuple(ctx.issues.get(stage, [])) != issues:
                return False
        any_high = any(v[0] == "High" for v in device.expect.values())
        return bool(ctx.ai_analysis) == any_high


class StreamIngest(Workload):
    """The ingest half of ``fleet_ingest``: telemetry landed batch by batch
    into a file-source streaming query."""

    BATCH_ROWS = 400
    CUSUM = {"target": 1500.0, "slack": 50.0, "threshold": 20000.0}
    ROLL_N = 5
    SCHEMA = "device_id long, row_id long, timeStamp timestamp, tstate string, energy double"
    KEYS, COLS = ["device_id"], ("timeStamp", "row_id", "energy")  # key, ts, id, value

    def setup(self) -> None:
        from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
        from meshinsights_data_pipeline_spark.streaming import (
            parallel_batch,
            streaming_cusum_ingest,
            streaming_rolling_ingest,
        )
        from meshinsights_data_pipeline_spark.streaming.cusum import cusum_state_schema
        from meshinsights_data_pipeline_spark.streaming.rolling import rolling_state_schema

        self.segments = gen.telemetry_stream(self.seed)
        self.rows = next(self.segments)
        self.landed = 0
        d = {n: os.path.join(self.work, n) for n in
             ("src", "landing", "cusum_state", "cusum_out", "roll_state", "roll_out", "ckpt")}
        os.makedirs(d["src"])
        os.makedirs(d["landing"])
        self.dirs = d
        spark = self.spark
        snapshot_overwrite(spark.createDataFrame([], cusum_state_schema("device_id long")),
                           d["cusum_state"], -1)
        snapshot_overwrite(spark.createDataFrame(
            [], rolling_state_schema("device_id long", "timestamp", "long", "double")),
            d["roll_state"], -1)
        process = parallel_batch(
            streaming_cusum_ingest(self.KEYS, *self.COLS, state_dir=d["cusum_state"],
                                   scores_dir=d["cusum_out"], **self.CUSUM),
            streaming_rolling_ingest(self.KEYS, *self.COLS, tail_dir=d["roll_state"],
                                     scores_dir=d["roll_out"], n=self.ROLL_N),
        )
        stream = (spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(d["src"]))
        self.query = (stream.writeStream.foreachBatch(process)
                      .option("checkpointLocation", d["ckpt"]).start())

    def land_ops(self, n: int) -> list:
        """``n`` landing ops; the rows they land are generated now, outside
        the timed ops."""
        while self.rows.num_rows < self.landed + n * self.BATCH_ROWS:
            self.rows = pa.concat_tables([self.rows, next(self.segments)])

        def op():
            batch = self.rows.slice(self.landed, self.BATCH_ROWS)
            name = f"batch-{self.landed // self.BATCH_ROWS:05d}.parquet"
            tmp = os.path.join(self.dirs["landing"], name)
            pq.write_table(batch, tmp)
            if self.tracer:
                self.tracer.note("sources.input_bytes", os.path.getsize(tmp))
            os.rename(tmp, os.path.join(self.dirs["src"], name))
            self.landed += self.BATCH_ROWS
            self.query.processAllAvailable()
            return self.query.lastProgress
        return [op] * n

    def processed(self, progress) -> bool:
        """The last landed file was processed as its own micro-batch."""
        return progress is not None and progress["batchId"] == self.landed // self.BATCH_ROWS - 1

    def final_check(self) -> bool:
        """Emitted scores equal the batch operators over all ingested rows."""
        from meshinsights_data_pipeline_spark.operators.changepoint import cusum_changepoints
        from meshinsights_data_pipeline_spark.operators.rollup import rolling_stats

        self.query.stop()
        spark = self.spark
        rows = spark.read.schema(self.SCHEMA).parquet(self.dirs["src"])
        ts, rid, val = self.COLS
        expect = {
            "cusum_out": cusum_changepoints(rows, ts, self.KEYS, val, rid, **self.CUSUM),
            "roll_out": rolling_stats(rows, ts, self.KEYS, val, rid, n=self.ROLL_N),
        }
        for name, want in expect.items():
            got = spark.read.parquet(self.dirs[name]).select(*want.columns)
            digest = _digest(want)
            if digest[0] != self.landed or _digest(got) != digest:
                return False
        return True

    def state_bytes(self) -> int:
        """On-disk size of the newest committed state snapshots."""
        from meshinsights_data_pipeline_spark.sources.layout import snapshot_versions

        return sum(
            du(os.path.join(self.dirs[name], f"_v={snapshot_versions(self.spark, self.dirs[name])[-1]}"))
            for name in ("cusum_state", "roll_state"))

    def close(self) -> None:
        query = getattr(self, "query", None)
        if query is not None and query.isActive:
            query.stop()


class FleetIngest(Workload):
    """Ingest then analyse: land one batch, then analyse one device."""

    # About 9 s per cycle (one op per device, one device) on 4 cores.
    CYCLE_S = 9.0

    def __init__(self, spark, seed: int, work: str, tracer=None):
        super().__init__(spark, seed, work, tracer)
        self.fleet = HvacFleet(spark, seed, work, tracer)
        self.stream = StreamIngest(spark, seed, work, tracer)

    def setup(self) -> None:
        self.fleet.setup()
        self.stream.setup()

    def warmup(self):
        """One cycle, which takes the process's cold start (about 20 s on 4
        cores)."""
        return self.cycle(-1)

    def cycle(self, k: int):
        analyse = self.fleet.ops()
        land = self.stream.land_ops(len(analyse))
        return [(key, self._op(land_op, analyse_op))
                for (key, analyse_op), land_op in zip(analyse, land)]

    @staticmethod
    def _op(land, analyse):
        return lambda: {"progress": land(), "context": analyse()}

    def op_ok(self, key, result) -> bool:
        return (self.stream.processed(result["progress"])
                and self.fleet.op_ok(key, result["context"]))

    def progress(self, result) -> dict | None:
        return result["progress"]

    def final_check(self) -> bool:
        return self.stream.final_check()

    def state_bytes(self) -> int:
        return self.stream.state_bytes()

    def close(self) -> None:
        self.stream.close()


WORKLOADS = {"query_mix": QueryMix, "fleet_ingest": FleetIngest}
