"""Gap-based batch sessionization."""

from __future__ import annotations

import datetime

import pytest

from nahuatl_data_pipeline_spark.streaming.incremental import EVENT_SCHEMA
from nahuatl_data_pipeline_spark.streaming.sessionize import sessionize_batch


def _ts(h, m=0):
    return datetime.datetime(2024, 1, 1, h, m)


ROWS = [
    # user 100: session A (10:00-10:10, 3 events), session B (12:00, 1 event)
    (1, _ts(10, 0), 100, "click", 1.0, None),
    (2, _ts(10, 5), 100, "click", 1.0, None),
    (3, _ts(10, 10), 100, "view", 1.0, None),
    (4, _ts(12, 0), 100, "click", 1.0, None),
    # user 200: session C (10:30-10:40), session D (15:00)
    (5, _ts(10, 30), 200, "view", 1.0, None),
    (6, _ts(10, 40), 200, "view", 1.0, None),
    (7, _ts(15, 0), 200, "click", 1.0, None),
]


@pytest.fixture()
def event_dir(spark, tmp_path):
    path = str(tmp_path / "events")
    spark.createDataFrame(ROWS, EVENT_SCHEMA).coalesce(2).write.parquet(path)
    return path


def _key(r):
    return (r["user_id"], r["session_start"], r["session_end"], r["n_events"])


def test_batch_sessionization(spark, event_dir):
    df = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    got = sorted(map(_key, sessionize_batch(df, gap="30 minutes").collect()))
    assert got == [
        (100, _ts(10, 0), _ts(10, 10), 3),
        (100, _ts(12, 0), _ts(12, 0), 1),
        (200, _ts(10, 30), _ts(10, 40), 2),
        (200, _ts(15, 0), _ts(15, 0), 1),
    ]


def test_gap_units_day_and_validation():
    from nahuatl_data_pipeline_spark.streaming.sessionize import _duration_us

    assert _duration_us("1 day") == 86_400_000_000
    assert _duration_us("500 milliseconds") == 500_000
    import pytest

    with pytest.raises(ValueError, match="unsupported gap unit"):
        _duration_us("1 fortnight")
