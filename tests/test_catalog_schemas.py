"""Schema-adaptive timestamp normalization (catalog.load /
normalize_timestamps) across every physical encoding the driver has
shipped for the same logical tables — TIMESTAMP(NANOS) (round 1,
readable only as nanos-as-long), TIMESTAMP_NTZ µs (round 2+), and
tz-aware TIMESTAMP µs — plus the fail-loud guard for nested NTZ.
Round 2's only red driver row came from one code path hard-coding
one of these encodings; this test pins that ALL paths converge to
identical TimestampType rows, so a future driver re-encoding fails
here first, not in CORRECTNESS_r{N}."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from openaq_data_pipeline_spark.catalog import load, normalize_timestamps

# one logical dataset: (event_id, ts) with microsecond precision
US = [1_704_067_200_000_000, 1_704_070_800_123_456, 1_704_074_400_999_999]
IDS = [1, 2, 3]


def _write(tmp_path, name, ts_array):
    d = tmp_path / name
    d.mkdir()
    table = pa.table({"event_id": pa.array(IDS, pa.int64()), "ts": ts_array})
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.fixture()
def encodings(tmp_path):
    return {
        "nanos": _write(
            tmp_path, "nanos", pa.array([u * 1000 for u in US], pa.timestamp("ns"))
        ),
        "ntz_us": _write(tmp_path, "ntz_us", pa.array(US, pa.timestamp("us"))),
        "utc_us": _write(
            tmp_path, "utc_us", pa.array(US, pa.timestamp("us", tz="UTC"))
        ),
    }


def test_all_physical_encodings_normalize_identically(spark, encodings):
    outs = {}
    for label, sf_dir in encodings.items():
        df = load(spark, sf_dir, "events")["events"]
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint",
            "timestamp",
        ], (label, df.schema)
        outs[label] = sorted(
            (r.event_id, str(r.ts)) for r in df.collect()
        )
    assert outs["nanos"] == outs["ntz_us"] == outs["utc_us"], outs
    # and the values are the literal microsecond instants, not shifted
    assert outs["ntz_us"][1][1] == "2024-01-01 01:00:00.123456"


def test_nested_ntz_fails_loudly(spark, tmp_path):
    inner = pa.array(US, pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": pa.array(IDS, pa.int64()),
            "payload": pa.StructArray.from_arrays([inner], names=["seen_at"]),
        }
    )
    d = tmp_path / "nested"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    raw = spark.read.parquet(str(d / "events.parquet"))
    with pytest.raises(TypeError, match="nests a TIMESTAMP_NTZ"):
        normalize_timestamps(raw, "events")
