"""The fixture generator has shipped events.ts as TIMESTAMP(NANOS) (round 1)
and TIMESTAMP(MICROS) (round 2). load_tables and read_events_stream must
normalize BOTH physical layouts to the same session-tz TIMESTAMP instants,
in any SparkSession (no legacy confs) — the driver runs queries in its own
session, so this is the portability contract that q25/q26/q31–q44 ride on.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from samba_spark.sources.tables import events_ts_is_nanos, load_tables

UTC = dt.timezone.utc
INSTANTS = [
    dt.datetime(2024, 1, 1, 0, 9, 58, 778549),
    dt.datetime(2024, 1, 2, 12, 0, 0, 1),
    dt.datetime(2024, 3, 31, 23, 59, 59, 999999),
]


def _write_events(path: str, unit: str) -> None:
    ts = pa.array(INSTANTS, type=pa.timestamp(unit))
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["click", "error", "view"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    # store_schema keeps the logical type (incl. nanos) in the footer
    pq.write_table(tbl, path, use_deprecated_int96_timestamps=False)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_tables_normalizes_both_layouts(spark, tmp_path, unit):
    d = tmp_path / f"sf_{unit}"
    d.mkdir()
    _write_events(str(d / "events.parquet"), unit)

    assert events_ts_is_nanos(str(d / "events.parquet")) == (unit == "ns")

    df = load_tables(spark, str(d), ["events"])["events"]
    # normalized type: session-tz TIMESTAMP (not NTZ, not raw long)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [r.ts.replace(tzinfo=None) for r in df.orderBy("event_id").collect()]
    assert got == INSTANTS


def test_rewritten_layout_is_sniffed_again(spark, tmp_path):
    """A file rewritten at the same path from NANOS to MICROS must not keep
    the cached NANOS verdict: that would send MICROS values through the
    LongType + div-1000 read, 1000x off with no error."""
    d = tmp_path / "sf"
    d.mkdir()
    path = str(d / "events.parquet")
    _write_events(path, "ns")
    assert events_ts_is_nanos(path)
    load_tables(spark, str(d), ["events"])["events"].collect()
    _write_events(path, "us")
    assert not events_ts_is_nanos(path)
    df = load_tables(spark, str(d), ["events"])["events"]
    got = [r.ts.replace(tzinfo=None) for r in df.orderBy("event_id").collect()]
    assert got == INSTANTS


def test_streaming_read_normalizes_both_layouts(spark, tmp_path):
    from samba_spark.streaming.ops import read_events_stream

    for unit in ["ns", "us"]:
        d = tmp_path / f"stream_{unit}"
        d.mkdir()
        _write_events(str(d / "events.parquet"), unit)
        stream = read_events_stream(
            spark, str(d), nanos=True, path_glob="events.parquet"
        )
        assert stream.schema["ts"].dataType.typeName() == "timestamp"
        out = str(tmp_path / f"out_{unit}")
        chk = str(tmp_path / f"chk_{unit}")
        (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        got = sorted(
            r.ts.replace(tzinfo=None)
            for r in spark.read.parquet(out).select("ts").collect()
        )
        assert got == sorted(INSTANTS), unit
