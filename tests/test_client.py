"""SDK facade lifecycle — the reference frontend's client contract
(sdks/frontend-rs/src/frontend.rs + stream.rs) driven end to end on this
engine: create → open(epoch) → append → read → takeover-fencing → trim →
close."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elastic_stream_spark.catalog import FencedError
from elastic_stream_spark.client import Frontend, StreamOptions


@pytest.fixture()
def fe(spark, workdir):
    return Frontend(spark, workdir)


def _batch(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 1000).alias("ts"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("payload"),
    )


def test_create_open_append_read_roundtrip(spark, fe):
    sid = fe.create(StreamOptions(replica=3, ack=2))
    s = fe.open(sid, epoch=0)
    assert (s.start_offset(), s.next_offset()) == (0, 0)

    r1 = s.append(_batch(spark, 5))
    assert (r1.base_offset, r1.end_offset) == (0, 5)
    r2 = s.append([b"alpha", b"beta"], ts_ms=10_000)
    assert (r2.base_offset, r2.end_offset) == (5, 7)
    assert s.next_offset() == 7

    got = s.read(0, 7).select("offset").collect()
    assert [r.offset for r in got] == list(range(7))
    assert s.read_payloads(5, 7) == [b"alpha", b"beta"]

    # options persisted on the stream record
    meta = fe.catalog.describe_stream(sid)
    assert (meta.replica, meta.ack_count) == (3, 2)


def test_open_takeover_fences_prior_handle(spark, fe):
    """≙ the zombie-writer scenario: a second open() with a later epoch
    seals the old mutable range; the first handle's next append dies with
    FencedError (EXPIRED_RANGE_EPOCH)."""
    sid = fe.create()
    w1 = fe.open(sid, epoch=0)
    w1.append(_batch(spark, 3))

    w2 = fe.open(sid, epoch=w1.epoch)  # takeover
    w2.append(_batch(spark, 2, base_ts=60_000))

    with pytest.raises(FencedError):
        w1.append(_batch(spark, 1, base_ts=120_000))

    # the new writer's records landed after the old ones, offsets dense
    assert w2.next_offset() == 5
    assert [r.offset for r in w2.read(0, 5).select("offset").collect()] == [
        0,
        1,
        2,
        3,
        4,
    ]


def test_trim_then_read_clamps_to_horizon(spark, fe):
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.append(_batch(spark, 10))
    s.trim(4)
    assert s.start_offset() == 4
    got = [r.offset for r in s.read(0, 10).select("offset").collect()]
    assert got == [4, 5, 6, 7, 8, 9]


def test_read_with_byte_budget_truncates_whole_records(spark, fe):
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.append([b"x" * 100] * 8)
    df = s.read(0, 8, batch_max_bytes=250)
    offs = [r.offset for r in df.select("offset").collect()]
    # whole records only, from the start, never exceeding the budget
    assert offs == list(range(len(offs)))
    assert 1 <= len(offs) < 8


def test_closed_handle_rejects_operations(spark, fe):
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    s.close()
    with pytest.raises(RuntimeError):
        s.append(_batch(spark, 1))
    with pytest.raises(RuntimeError):
        s.read(0, 1)


# A list append run in a child process that dies (os._exit: no cleanup,
# no finally) at one durable step of the driver-side write:
#   write   — halfway through writing the temp file
#   rename  — with the temp file written and fsynced, before the rename
#   confirm — with the file renamed into place, before the confirm offset
_CRASHING_APPEND = r"""
import io, os, sys

import pyarrow.parquet as pq

from elastic_stream_spark.catalog import StreamCatalog
from elastic_stream_spark.log import StreamLog

root, sid, epoch, step = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
real_write, real_replace = pq.write_table, os.replace

def torn_write(table, where, **kw):
    buf = io.BytesIO()
    real_write(table, buf, **kw)
    where.write(buf.getvalue()[: len(buf.getvalue()) // 2])
    where.flush()
    os._exit(17)

def dying_replace(src, dst):
    if os.path.basename(src).startswith(".part-"):
        os._exit(17)
    real_replace(src, dst)

def dying_confirm(self, stream_id, upto):
    os._exit(17)

if step == "write":
    pq.write_table = torn_write
elif step == "rename":
    os.replace = dying_replace
elif step == "confirm":
    StreamCatalog.confirm_offset = dying_confirm
StreamLog(None, StreamCatalog(root)).append(sid, [b"r0", b"r1", b"r2"], epoch=epoch, ts_ms=5)
"""


def _crash_list_append(root, sid, epoch, step):
    import subprocess
    import sys

    import elastic_stream_spark

    pkg_root = os.path.dirname(os.path.dirname(elastic_stream_spark.__file__))
    env = dict(os.environ, PYTHONPATH=pkg_root)
    proc = subprocess.run(
        [sys.executable, "-c", _CRASHING_APPEND, root, str(sid), str(epoch), step],
        env=env,
        capture_output=True,
        timeout=120,
    )
    assert proc.returncode == 17, proc.stderr.decode()[-2000:]


def _crash_state(fe, sid):
    """What a reader sees of stream ``sid``'s first block after a crash:
    (next_offset, confirmed_offset, rows of [0, 3) in the log)."""
    meta = fe.catalog.describe_stream(sid)
    return meta.next_offset, meta.confirmed_offset, fe.log.count_span(sid, 0, 3)


class _Crash(Exception):
    pass


def _raise_crash(*args, **kwargs):
    raise _Crash


@pytest.mark.parametrize("step", ["write", "rename", "confirm"])
def test_list_append_crash_at_each_durable_step(spark, workdir, step, monkeypatch):
    """Crash the driver-side list append at each durable step, reopen,
    and check that no reader lists the temp file, that the confirm
    offset does not cover a block whose file has not landed, and that
    the state is the one a crash at the same point of the Spark write
    path leaves."""
    import glob

    import pyarrow.dataset as ds

    from elastic_stream_spark.catalog import StreamCatalog
    from elastic_stream_spark.log import StreamLog
    from elastic_stream_spark.objects import parquet_files

    fe = Frontend(spark, workdir)
    sid = fe.create()
    epoch = fe.catalog.describe_stream(sid).epoch
    _crash_list_append(workdir, sid, epoch, step)

    fe = Frontend(spark, workdir)  # reopen after the crash
    d = fe.log._range_dir(sid, 0)
    temps = glob.glob(os.path.join(d, ".part-*.tmp"))
    landed = parquet_files(d)
    if step == "confirm":
        assert not temps and len(landed) == 1
    else:
        assert len(temps) == 1 and not landed  # the crash left its temp file
        assert not os.path.basename(temps[0]).endswith(".parquet")
        assert ds.dataset(d, format="parquet").files == []
        assert fe.log.fetch(sid, 0, 3).inputFiles() == []
    # the confirm offset never covers a block whose file has not landed
    state = _crash_state(fe, sid)
    assert state[1] == 0
    assert state[2] == (3 if step == "confirm" else 0)

    # the same crash point on the Spark path: the write job never ran
    # (write, rename) or it committed and the confirm never ran (confirm)
    other = Frontend(spark, f"{workdir}/spark-path")
    sid2 = other.create()
    batch = _batch(spark, 3)
    if step == "confirm":
        monkeypatch.setattr(StreamCatalog, "confirm_offset", _raise_crash)
    else:
        monkeypatch.setattr(StreamLog, "write_stamped", _raise_crash)
    with pytest.raises(_Crash):
        other.log.append(sid2, batch)
    monkeypatch.undo()
    assert _crash_state(Frontend(spark, f"{workdir}/spark-path"), sid2) == state


def test_list_append_runs_no_spark_job(spark, fe):
    """A list append is reserve → driver-side write → confirm: no Spark
    job runs for it."""
    sid = fe.create()
    s = fe.open(sid, epoch=0)
    sc = spark.sparkContext
    sc.setJobGroup("list-append-jobs", "list-append-jobs")
    try:
        s.append([b"x"] * 16, ts_ms=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("list-append-jobs") == []
    assert s.read_payloads(0, 16) == [b"x"] * 16


def test_fenced_list_append_writes_nothing(spark, fe):
    """A fenced handle's list append raises FencedError before anything
    is written: no data file and no temp file appear."""
    sid = fe.create()
    w1 = fe.open(sid, epoch=0)
    w1.append([b"first"])
    w2 = fe.open(sid, epoch=w1.epoch)  # takeover

    def all_files():
        root = f"{fe.log.records_root}/stream_id={sid}"
        return sorted(os.path.join(p, f) for p, _, names in os.walk(root) for f in names)

    before = all_files()
    with pytest.raises(FencedError):
        w1.append([b"zombie"])
    assert all_files() == before
    w2.append([b"second"])
    assert w2.read_payloads(0, 2) == [b"first", b"second"]
    assert fe.catalog.describe_stream(sid).confirmed_offset == 2
