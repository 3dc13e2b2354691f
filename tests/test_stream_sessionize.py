"""applyInPandasWithState streaming sessionization: within-batch splits,
cross-batch state carry, and event-time-timeout session close."""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd
import pytest

from pdf_parser_spark.streaming.sessionize import stream_sessionize

T0 = dt.datetime(2026, 1, 1)


def _write(path, rows):
    df = pd.DataFrame(rows, columns=["user_id", "ts"])
    df["ts"] = df["ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _sec(s):
    return T0 + dt.timedelta(seconds=s)


def _order_by_mtime(inp, names):
    """Spark's file stream source hands out files in modification-time
    order; files written within one clock tick tie and then come in
    directory-listing order. Strictly increasing mtimes make ``names``
    the batch order."""
    t0 = time.time() - len(names)
    for i, name in enumerate(names):
        os.utime(inp / name, (t0 + i, t0 + i))


@pytest.fixture()
def session_run(spark, tmp_path):
    """Three files -> three micro-batches (maxFilesPerTrigger=1):
    file1: user A two sessions' worth (gap split in-batch) + B open
    file2: A continues (cross-batch state), sentinel advances watermark
    file3: sentinel far ahead -> every open session times out and closes"""
    inp = tmp_path / "events"
    inp.mkdir()
    _write(str(inp / "f1.parquet"), [
        ("A", _sec(0)), ("A", _sec(10)),           # A session 1
        ("A", _sec(2000)), ("A", _sec(2005)),      # gap > 1800 -> session 2
        ("B", _sec(100)),                          # B open
    ])
    _write(str(inp / "f2.parquet"), [
        ("A", _sec(2100)),                         # extends A session 2
        ("S", _sec(20000)),                        # advances watermark
    ])
    _write(str(inp / "f3.parquet"), [
        ("S2", _sec(100000)),                      # closes everything open
        ("B", _sec(150)),                          # LATE: behind watermark
    ])
    _order_by_mtime(inp, ["f1.parquet", "f2.parquet", "f3.parquet"])

    stream = (spark.readStream.schema("user_id string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(str(inp)))
    q = (stream_sessionize(stream, gap_sec=1800)
         .writeStream.format("memory").queryName("sessions")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive
    return {(r.user_id, r.session_start, r.session_end): r.n_events
            for r in spark.sql("select * from sessions").collect()}


def test_sessions_close_correctly(session_run):
    got = session_run
    # A's first session split within batch 1
    assert got[("A", _sec(0), _sec(10))] == 2
    # A's second session carried state across batches 1->2, closed by
    # watermark timeout after the sentinel advanced event time
    assert got[("A", _sec(2000), _sec(2100))] == 3
    # B's single-event session closed by timeout
    assert got[("B", _sec(100), _sec(100))] == 1
    # sentinel S itself closes when the later sentinel advances watermark
    assert got[("S", _sec(20000), _sec(20000))] == 1
    # the late B event (behind the watermark by batch 3) was dropped by the
    # watermark: exactly one B session, its counts untouched
    b_sessions = [k for k in got if k[0] == "B"]
    assert b_sessions == [("B", _sec(100), _sec(100))]


def test_nonzero_watermark_out_of_order_merge(spark, tmp_path):
    """With a nonzero watermark, an admitted cross-batch LATE event merges
    into the open session (min-start/max-last) instead of regressing
    session_end or killing the query with an invalid timeout."""
    inp = tmp_path / "ooo"
    inp.mkdir()
    _write(str(inp / "f1.parquet"), [
        ("A", _sec(1000)), ("A", _sec(1100)),      # open session
        ("W", _sec(1200)),                         # watermark -> 900
    ])
    _write(str(inp / "f2.parquet"), [
        ("A", _sec(950)),                          # LATE (>= wm 900): merge
        ("W", _sec(5000)),                         # watermark -> 4700
    ])
    _write(str(inp / "f3.parquet"), [
        ("Z", _sec(100000)),                       # closes everything
    ])
    _order_by_mtime(inp, ["f1.parquet", "f2.parquet", "f3.parquet"])
    stream = (spark.readStream.schema("user_id string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(str(inp)))
    q = (stream_sessionize(stream, gap_sec=1800, watermark="300 seconds")
         .writeStream.format("memory").queryName("sessions_ooo")
         .option("checkpointLocation", str(tmp_path / "ckpt_ooo"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive
    got = {(r.user_id, r.session_start, r.session_end): r.n_events
           for r in spark.sql("select * from sessions_ooo").collect()}
    # the late 950 event extended the session START backward; end unchanged
    assert got[("A", _sec(950), _sec(1100))] == 3
