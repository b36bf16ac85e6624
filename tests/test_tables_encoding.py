"""load_table must yield the long-nanos ``events.ts`` contract for every
parquet encoding the corpus has shipped (int64 TIMESTAMP(NANOS) and plain
timestamp[us]/TIMESTAMP_NTZ) — round 2 regressed when the testdata moved
from nanos-physical to µs timestamps."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from nexus_processor_spark.sources.tables import TESTDATA_TABLES, _read, load_table

_CORPORA = {
    "perfbench-sf0.01": os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "data", "sf0.01"),
    "sf0.001": "/root/testdata/sf0.001",
}

_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 20, 30],
    "event_type": ["click", "view", "click"],
    "value": [0.5, 1.5, 2.5],
    "props": ["{}", "{}", "{}"],
}
# µs-precision instants incl. an exact second and a fractional one
_TS_US = [1704844800_000000, 1704844800_500001, 1705708799_999999]


def _write_events(path, ts_array):
    tbl = pa.table({**{k: pa.array(v) for k, v in _ROWS.items()},
                    "ts": ts_array})
    pq.write_table(tbl, path)


def test_load_events_timestamp_us(spark, tmp_path):
    """timestamp[us] (no tz → Spark TIMESTAMP_NTZ) normalizes to long ns."""
    _write_events(
        str(tmp_path / "events.parquet"),
        pa.array(pd.to_datetime(_TS_US, unit="us"), type=pa.timestamp("us")),
    )
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, LongType)
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == [us * 1000 for us in _TS_US]


def test_load_events_int64_nanos(spark, tmp_path):
    """Physical int64 nanos passes through untouched (legacy encoding)."""
    _write_events(
        str(tmp_path / "events.parquet"),
        pa.array([us * 1000 for us in _TS_US], type=pa.int64()),
    )
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, LongType)
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == [us * 1000 for us in _TS_US]


def test_load_events_timestamp_nanos_parquet(spark, tmp_path):
    """parquet TIMESTAMP(NANOS) reads as long via the nanosAsLong flag."""
    _write_events(
        str(tmp_path / "events.parquet"),
        pa.array([us * 1000 for us in _TS_US], type=pa.timestamp("ns")),
    )
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, LongType)
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == [us * 1000 for us in _TS_US]


def _assert_inferred_schema(spark, path):
    """The footer-derived read schema is the one Spark infers."""
    assert _read(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("corpus", sorted(_CORPORA))
def test_read_schema_matches_inference_on_corpus(spark, corpus):
    """Every corpus table, incl. the list<float> embeddings and the
    µs/NTZ timestamps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TESTDATA_TABLES:
        _assert_inferred_schema(spark, f"{_CORPORA[corpus]}/{name}.parquet")


@pytest.mark.parametrize("ts_type", ["int64", "ns", "us"])
def test_read_schema_matches_inference_per_ts_encoding(spark, tmp_path, ts_type):
    ts = [us * 1000 for us in _TS_US]
    arr = {
        "int64": pa.array(ts, type=pa.int64()),
        "ns": pa.array(ts, type=pa.timestamp("ns")),
        "us": pa.array(pd.to_datetime(_TS_US, unit="us"), type=pa.timestamp("us")),
    }[ts_type]
    path = str(tmp_path / "events.parquet")
    _write_events(path, arr)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _assert_inferred_schema(spark, path)


def test_read_schema_matches_inference_on_spark_written_dir(spark, tmp_path):
    """A multi-part directory Spark wrote (its schema sits in the
    footer's row metadata; ``_SUCCESS`` is not a data file)."""
    from nexus_processor_spark.sources import synth

    path = str(tmp_path / "events.parquet")
    synth.synth_events(spark, 200, partitions=3).write.parquet(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert len([n for n in os.listdir(path) if n.endswith(".parquet")]) == 3
    _assert_inferred_schema(spark, path)
    df = load_table(spark, str(tmp_path), "events")
    assert df.count() == 200


def test_read_rejects_non_local_path(spark):
    with pytest.raises(ValueError, match="local"):
        _read(spark, "s3a://bucket/events.parquet")


def test_load_events_time_range_all_encodings(spark, tmp_path):
    """The pushed-range loader must deliver identical rows and the
    long-ns contract for every stored ts encoding."""
    from nexus_processor_spark.sources.tables import load_events_time_range

    lo_s, hi_s = 1704844800.0, 1704844801.0  # [first ts, +1s) -> rows 0,1
    encodings = {
        "us": pa.array(pd.to_datetime(_TS_US, unit="us"),
                       type=pa.timestamp("us")),
        "ns": pa.array([us * 1000 for us in _TS_US], type=pa.timestamp("ns")),
        "int64": pa.array([us * 1000 for us in _TS_US], type=pa.int64()),
    }
    results = {}
    for name, arr in encodings.items():
        d = tmp_path / name
        d.mkdir()
        _write_events(str(d / "events.parquet"), arr)
        df = load_events_time_range(spark, str(d), lo_s, hi_s)
        assert isinstance(df.schema["ts"].dataType, LongType), name
        results[name] = sorted((r.event_id, r.ts) for r in df.collect())
    assert results["us"] == results["ns"] == results["int64"]
    assert [e for e, _ in results["us"]] == [1, 2]  # half-open: 3rd excluded


def test_oracle_ts_sql_probes_encoding(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nexus_processor_spark.sources.tables import ts_epoch_sql, ts_ns_sql

    # long-ns corpus -> integer arithmetic form
    d_ns = tmp_path / "ns"
    d_ns.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.int64())}),
        d_ns / "events.parquet",
    )
    assert ts_epoch_sql(str(d_ns)) == "(ts // 1000) / 1000000.0"
    assert ts_ns_sql(str(d_ns)) == "ts"

    # timestamp corpus -> epoch() form
    d_us = tmp_path / "us"
    d_us.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))}),
        d_us / "events.parquet",
    )
    assert ts_epoch_sql(str(d_us)) == "epoch(ts)"
    assert ts_ns_sql(str(d_us)) == "epoch_us(ts) * 1000"

    # unreadable probe -> timestamp default
    assert ts_epoch_sql(str(tmp_path / "missing")) == "epoch(ts)"


def test_oracle_ts_sql_matches_duckdb_values(tmp_path):
    """Both encodings of the same instant produce the same epoch seconds
    through their respective SQL forms."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nexus_processor_spark.sources.tables import ts_epoch_sql

    ns = 1_700_000_123_456_789_000
    d_ns = tmp_path / "ns"; d_ns.mkdir()
    d_us = tmp_path / "us"; d_us.mkdir()
    pq.write_table(pa.table({"ts": pa.array([ns], pa.int64())}),
                   d_ns / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([ns // 1000], pa.timestamp("us"))}),
                   d_us / "events.parquet")
    con = duckdb.connect()
    vals = []
    for d in (d_ns, d_us):
        expr = ts_epoch_sql(str(d))
        (v,) = con.execute(
            f"SELECT {expr} FROM read_parquet('{d}/events.parquet')"
        ).fetchone()
        vals.append(v)
    assert vals[0] == vals[1]
