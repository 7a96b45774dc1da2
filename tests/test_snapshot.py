"""Unit tests for operators.snapshot: the SCD2 edge cases the oracled
query (x64) can't reach — late updates, idempotent redelivery, NULL-safe
attribute comparison, duplicate-key update batches — plus cdc_delta
semantics on synthetic frames."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from meshinsights_data_pipeline_spark.operators.snapshot import (
    scd2_merge,
    cdc_delta,
)
from tests.streaming_checks import released_each_epoch

_HIST_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("seg", StringType()),
        StructField("bal", DoubleType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
    ]
)
_UPD_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("seg", StringType()),
        StructField("bal", DoubleType()),
        StructField("ts", TimestampType()),
    ]
)


def _t(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _hist(spark, rows):
    return spark.createDataFrame(rows, _HIST_SCHEMA)


def _upd(spark, rows):
    return spark.createDataFrame(rows, _UPD_SCHEMA)


def _merge(hist, upd):
    return scd2_merge(hist, upd, keys=["k"], attrs=["seg", "bal"], ts_col="ts")


def _rows(df):
    return sorted(
        ((r.k, r.seg, r.bal, r.valid_from, r.valid_to) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def test_scd2_change_closes_and_appends(spark):
    hist = _hist(spark, [(1, "A", 10.0, _t("2024-01-01"), None)])
    upd = _upd(spark, [(1, "A", 20.0, _t("2024-02-01"))])
    out = _rows(_merge(hist, upd))
    assert out == [
        (1, "A", 10.0, _t("2024-01-01"), _t("2024-02-01")),
        (1, "A", 20.0, _t("2024-02-01"), None),
    ]


def test_scd2_new_key_inserts_open_row(spark):
    hist = _hist(spark, [(1, "A", 10.0, _t("2024-01-01"), None)])
    upd = _upd(spark, [(2, "B", 5.0, _t("2024-02-01"))])
    out = _rows(_merge(hist, upd))
    assert (2, "B", 5.0, _t("2024-02-01"), None) in out
    # key 1 untouched and still open
    assert (1, "A", 10.0, _t("2024-01-01"), None) in out
    assert len(out) == 2


def test_scd2_identical_redelivery_is_noop(spark):
    hist = _hist(spark, [(1, "A", 10.0, _t("2024-01-01"), None)])
    upd = _upd(spark, [(1, "A", 10.0, _t("2024-03-01"))])
    out = _rows(_merge(hist, upd))
    assert out == [(1, "A", 10.0, _t("2024-01-01"), None)]


def test_scd2_late_update_dropped(spark):
    # open version started 2024-03-01; an update stamped earlier (or at
    # exactly the same instant) must not rewrite newer state
    hist = _hist(spark, [(1, "A", 30.0, _t("2024-03-01"), None)])
    late = _upd(spark, [(1, "A", 99.0, _t("2024-02-01"))])
    assert _rows(_merge(hist, late)) == [(1, "A", 30.0, _t("2024-03-01"), None)]
    equal = _upd(spark, [(1, "A", 99.0, _t("2024-03-01"))])
    assert _rows(_merge(hist, equal)) == [(1, "A", 30.0, _t("2024-03-01"), None)]


def test_scd2_null_attr_compares_null_safe(spark):
    # NULL -> NULL redelivery is a no-op; NULL -> value is a real change
    hist = _hist(spark, [(1, None, 10.0, _t("2024-01-01"), None)])
    same = _upd(spark, [(1, None, 10.0, _t("2024-02-01"))])
    assert _rows(_merge(hist, same)) == [(1, None, 10.0, _t("2024-01-01"), None)]
    change = _upd(spark, [(1, "A", 10.0, _t("2024-02-01"))])
    out = _rows(_merge(hist, change))
    assert sorted(out, key=str) == sorted(
        [
            (1, None, 10.0, _t("2024-01-01"), _t("2024-02-01")),
            (1, "A", 10.0, _t("2024-02-01"), None),
        ],
        key=str,
    )


def test_scd2_duplicate_key_batch_keeps_latest(spark):
    hist = _hist(spark, [(1, "A", 10.0, _t("2024-01-01"), None)])
    upd = _upd(
        spark,
        [
            (1, "A", 20.0, _t("2024-02-01")),
            (1, "A", 30.0, _t("2024-03-01")),
        ],
    )
    out = _rows(_merge(hist, upd))
    assert out == [
        (1, "A", 10.0, _t("2024-01-01"), _t("2024-03-01")),
        (1, "A", 30.0, _t("2024-03-01"), None),
    ]


def test_scd2_closed_history_passes_through(spark):
    hist = _hist(
        spark,
        [
            (1, "A", 10.0, _t("2024-01-01"), _t("2024-02-01")),
            (1, "A", 20.0, _t("2024-02-01"), None),
        ],
    )
    upd = _upd(spark, [(1, "A", 30.0, _t("2024-04-01"))])
    out = _rows(_merge(hist, upd))
    assert out == [
        (1, "A", 10.0, _t("2024-01-01"), _t("2024-02-01")),
        (1, "A", 20.0, _t("2024-02-01"), _t("2024-04-01")),
        (1, "A", 30.0, _t("2024-04-01"), None),
    ]


def test_scd2_ts_name_collision_raises(spark):
    hist = _hist(spark, [])
    upd = _upd(spark, [])
    with pytest.raises(ValueError, match="collides"):
        scd2_merge(hist, upd, keys=["k"], attrs=["seg", "bal"], ts_col="seg")


def test_cdc_delta_emits_only_changes(spark):
    old = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 2.0), (3, "C", 3.0), (4, None, 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 9.0), (4, None, 4.0), (5, "E", 5.0)],
        "k long, s string, v double",
    )
    out = {
        r.k: (r.change_type, r.old_s, r.old_v, r.new_s, r.new_v)
        for r in cdc_delta(old, new, keys=["k"]).collect()
    }
    # 1 unchanged and 4 (NULL<=>NULL) unchanged: not emitted
    assert set(out) == {2, 3, 5}
    assert out[2] == ("update", "B", 2.0, "B", 9.0)
    assert out[3] == ("delete", "C", 3.0, None, None)
    assert out[5] == ("insert", None, None, "E", 5.0)


def test_cdc_delta_null_to_value_is_update(spark):
    old = spark.createDataFrame([(1, None)], "k long, s string")
    new = spark.createDataFrame([(1, "X")], "k long, s string")
    out = cdc_delta(old, new, keys=["k"]).collect()
    assert len(out) == 1 and out[0].change_type == "update"


def test_cdc_delta_no_compare_cols_raises(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="compare"):
        cdc_delta(df, df, keys=["k"])


def test_streaming_scd2_sequential_parity_and_retry(spark, tmp_path):
    """Streaming SCD2 state after N micro-batches must equal the
    sequential fold of batch scd2_merge over the same batches (NOT one
    collapsed merge — cross-batch intermediate versions are real
    history); a retried epoch leaves both state tables bit-identical;
    as-of reads pick the version covering the instant."""
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import (
        scd2_read,
        streaming_scd2_ingest,
    )

    odir, cdir = str(tmp_path / "open"), str(tmp_path / "closed")
    seed = _hist(spark, [(1, "A", 10.0, _t("2024-01-01"), None)])
    snapshot_overwrite(seed, odir, version=-1)

    b1 = _upd(spark, [(1, "A", 20.0, _t("2024-02-01")),
                      (2, "B", 5.0, _t("2024-02-01"))])
    b2 = _upd(spark, [(1, "A", 30.0, _t("2024-03-01"))])

    process = streaming_scd2_ingest(
        b1, keys=["k"], attrs=["seg", "bal"], ts_col="ts",
        open_dir=odir, closed_dir=cdir)
    process = released_each_epoch(spark, process)
    process(b1, 0)
    process(b2, 1)

    got = _rows(scd2_read(spark, odir, cdir))
    expect = _rows(_merge(_merge(seed, b1), b2))
    assert got == expect
    # key 1 carries full 3-version history: the one-shot merge of b1+b2
    # would collapse the 20.0 intermediate — sequential must keep it
    assert (1, "A", 20.0, _t("2024-02-01"), _t("2024-03-01")) in got

    process(b2, 1)  # simulated micro-batch retry
    assert _rows(scd2_read(spark, odir, cdir)) == expect

    asof = _rows(scd2_read(spark, odir, cdir, as_of=_t("2024-02-15")))
    assert asof == [
        (1, "A", 20.0, _t("2024-02-01"), _t("2024-03-01")),
        (2, "B", 5.0, _t("2024-02-01"), None),
    ]


def test_streaming_scd2_read_before_any_close(spark, tmp_path):
    """closed_dir may not exist until the first version closes; reads
    must see the open slice, not raise."""
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import (
        scd2_read,
        streaming_scd2_ingest,
    )

    odir, cdir = str(tmp_path / "open"), str(tmp_path / "closed")
    snapshot_overwrite(_hist(spark, []), odir, version=-1)
    process = streaming_scd2_ingest(
        None, keys=["k"], attrs=["seg", "bal"], ts_col="ts",
        open_dir=odir, closed_dir=cdir)
    # brand-new keys only: nothing closes, closed_dir is never created
    b1 = _upd(spark, [(7, "Z", 1.0, _t("2024-01-05"))])
    process(b1, 0)
    got = _rows(scd2_read(spark, odir, cdir))
    assert got == [(7, "Z", 1.0, _t("2024-01-05"), None)]


def test_scd2_lookup_picks_covering_version(spark):
    """A fact sees the version current at ITS timestamp: before the first
    version -> NULL dims; inside a closed interval -> that version;
    at/after the open version's start -> the open one."""
    from meshinsights_data_pipeline_spark.operators.snapshot import scd2_lookup

    hist = _hist(
        spark,
        [
            (1, "A", 10.0, _t("2024-02-01"), _t("2024-03-01")),
            (1, "A", 20.0, _t("2024-03-01"), None),
        ],
    )
    facts = spark.createDataFrame(
        [
            (100, 1, _t("2024-01-15")),  # pre-history
            (101, 1, _t("2024-02-15")),  # closed interval
            (102, 1, _t("2024-03-01")),  # boundary: new version from-inclusive
            (103, 2, _t("2024-02-15")),  # unknown key
        ],
        "fid long, k long, fts timestamp",
    )
    got = {
        r.fid: (r.bal, r.valid_from)
        for r in scd2_lookup(facts, hist, keys=["k"], fact_ts="fts").collect()
    }
    assert got[100] == (None, None)
    assert got[101] == (10.0, _t("2024-02-01"))
    assert got[102] == (20.0, _t("2024-03-01"))
    assert got[103] == (None, None)
    assert len(got) == 4  # exactly one output row per fact — no fan-out


def test_scd2_lookup_column_collision_raises(spark):
    from meshinsights_data_pipeline_spark.operators.snapshot import scd2_lookup

    hist = _hist(spark, [])
    facts = spark.createDataFrame([], "fid long, k long, bal double, fts timestamp")
    with pytest.raises(ValueError, match="collide"):
        scd2_lookup(facts, hist, keys=["k"], fact_ts="fts")
