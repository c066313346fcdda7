"""Fixture-drift smoke gate: the driver regenerates /root/testdata between
rounds and has already changed the physical type of ``events.ts`` once
(nanos in round 1, micros in round 2).  Load every table at sf0.001 first
thing so a fixture change fails in seconds, not at driver time.

Named test_000_* so pytest's default file ordering runs it early.
"""

from __future__ import annotations

import datetime as dt
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from anomaly_detection_in_time_series_data_spark.tables import TABLE_NAMES, load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_000_table_loads(spark, name):
    df = load_table(spark, SF_DIR, name)
    assert df.count() > 0, f"{name} is empty"


def test_000_events_ts_is_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    dt = df.schema["ts"].dataType
    assert isinstance(dt, (TimestampType, TimestampNTZType)), (
        f"events.ts loaded as {dt}; load_table must normalize whatever "
        "physical type the regenerated fixture uses to a timestamp"
    )
    # and it must actually be scannable (analysis alone can pass while
    # execution throws for unsupported physical types)
    assert df.select("ts").limit(5).count() == 5


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` runs, read from ``statusTracker`` by job group.

    The status store is fed asynchronously, but in event order: once a
    marker job run after ``fn`` shows as finished, every job ``fn`` ran
    is visible too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"jobs-{uuid.uuid4().hex}"
    marker = f"{group}-marker"
    try:
        sc.setJobGroup(group, "counted")
        fn()
        sc.setJobGroup(marker, "marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while True:
        done = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(marker)]
        if done and all(i is not None and i.status == "SUCCEEDED" for i in done):
            return len(tracker.getJobIdsForGroup(group))
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)


def test_reload_of_unchanged_file_runs_no_job(spark):
    load_table(spark, SF_DIR, "events")
    load_table(spark, SF_DIR, "documents")
    # the counter itself sees jobs: inferring a schema is one
    assert _jobs_run_by(spark, lambda: spark.read.parquet(f"{SF_DIR}/orders.parquet")) >= 1
    assert _jobs_run_by(spark, lambda: load_table(spark, SF_DIR, "events")) == 0
    assert _jobs_run_by(spark, lambda: load_table(spark, SF_DIR, "documents")) == 0


def test_reloads_are_distinct_relations(spark):
    # self-joins need fresh attribute ids on every load
    a = load_table(spark, SF_DIR, "documents")
    b = load_table(spark, SF_DIR, "documents")
    n = a.count()
    assert a.join(b, a["doc_id"] == b["doc_id"]).select(a["doc_id"]).count() == n


_T0 = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)


def _write_events(path, unit: str, seconds: list[int], extra: bool = False) -> None:
    cols = {
        "event_id": pa.array(range(len(seconds)), pa.int64()),
        "ts": pa.array(
            [_T0 + dt.timedelta(seconds=s) for s in seconds], pa.timestamp(unit)
        ),
    }
    if extra:
        cols["note"] = pa.array([f"n{s}" for s in seconds], pa.string())
    pq.write_table(pa.table(cols), path, version="2.6")


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "events.parquet"
    _write_events(path, "ns", [0, 60])
    first = load_table(spark, str(tmp_path), "events")
    assert first.columns == ["event_id", "ts"]
    assert [r.ts for r in first.orderBy("event_id").collect()] == [
        _T0,
        _T0 + dt.timedelta(seconds=60),
    ]
    # events.ts goes from TIMESTAMP(NANOS) to TIMESTAMP(MICROS), and a
    # column is added
    _write_events(path, "us", [5, 10, 15], extra=True)
    second = load_table(spark, str(tmp_path), "events")
    assert second.columns == ["event_id", "ts", "note"]
    assert isinstance(second.schema["ts"].dataType, TimestampType)
    rows = second.orderBy("event_id").collect()
    assert [(r.ts, r.note) for r in rows] == [
        (_T0 + dt.timedelta(seconds=s), f"n{s}") for s in (5, 10, 15)
    ]
