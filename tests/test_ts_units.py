"""The driver's generated events.parquet has shipped ts as
TIMESTAMP(NANOS) (round 1) and TIMESTAMP(MICROS) (round 2).  The batch
reader and the tests' streaming reader (``stream_helpers``) both detect
the unit; these tests pin that behavior against future testdata flips
by synthesizing a file in each unit and asserting identical values
out."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opl_spark.sources import load_table
from stream_helpers import read_events_stream, run_to_memory

_ROWS = {
    "event_id": [1, 2],
    "user_id": [10, 11],
    "event_type": ["click", "view"],
    "value": [1.5, 2.5],
    "props": ["{}", "{}"],
}
_TS = ["2024-01-01T00:00:01.500000", "2024-03-05T12:30:00.250000"]


def _write_events(dirpath: str, unit: str) -> str:
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array([__import__("datetime").datetime.fromisoformat(t) for t in _TS], pa.timestamp(unit)),
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(table, os.path.join(dirpath, "events.parquet"))
    return dirpath


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_batch_reader_normalizes_both_units(spark, tmp_path, unit):
    d = _write_events(str(tmp_path / unit), unit)
    df = load_table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(str(r["ts"]) for r in df.select("ts").collect())
    assert got == ["2024-01-01 00:00:01.500000", "2024-03-05 12:30:00.250000"]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_reader_normalizes_both_units(spark, tmp_path, unit):
    d = _write_events(str(tmp_path / f"s_{unit}"), unit)
    stream = read_events_stream(spark, d)
    got = run_to_memory(
        stream.select("event_id", "ts"), f"t_units_{unit}", output_mode="append"
    )
    rows = sorted(str(r["ts"]) for r in got.collect())
    assert rows == ["2024-01-01 00:00:01.500000", "2024-03-05 12:30:00.250000"]
