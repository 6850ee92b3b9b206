"""Append→fetch roundtrip through the real StreamLog (FIXTURES.md C.1):
appends acked ⇒ fetch returns them exactly once, in offset order —
the property the reference model-checks in TLA+ (docs/tlaplus/)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elastic_stream_spark.catalog import FencedError, StreamCatalog
from elastic_stream_spark.log import StreamLog


@pytest.fixture()
def log(spark, workdir):
    return StreamLog(spark, StreamCatalog(workdir))


def _events(spark, n, base_ts=0):
    return spark.range(n).select(
        F.timestamp_millis(F.lit(base_ts) + F.col("id") * 1000).alias("ts"),
        F.create_map(F.lit("i"), F.col("id").cast("string")).alias("properties"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "UTF-8").alias("payload"),
    )


def test_append_fetch_roundtrip(spark, log):
    sid = log.catalog.create_stream().stream_id
    b0 = log.append(sid, _events(spark, 5, 0))
    b1 = log.append(sid, _events(spark, 5, 10_000))
    assert (b0, b1) == ((0, 5), (5, 10))

    rows = log.fetch(sid, 0, 10).collect()
    assert [r.offset for r in rows] == list(range(10))  # contiguous, ordered
    assert rows[0].payload == b"payload-0"
    assert rows[5].payload == b"payload-0"  # second batch restarts its ids
    assert all(r.stream_id == sid for r in rows)

    window = log.fetch(sid, 3, 7).collect()
    assert [r.offset for r in window] == [3, 4, 5, 6]  # [lo, hi)


def test_multi_stream_isolation(spark, log):
    a = log.catalog.create_stream().stream_id
    b = log.catalog.create_stream().stream_id
    log.append(a, _events(spark, 4))
    log.append(b, _events(spark, 6))
    assert log.next_offset(a) == 4 and log.next_offset(b) == 6
    assert log.fetch(a, 0, 100).count() == 4
    assert log.fetch(b, 0, 100).count() == 6
    # offsets are per-stream, both starting at 0
    assert log.fetch(b, 0, 1).collect()[0].offset == 0


def test_fenced_append_rejected(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 3), epoch=0)
    log.catalog.seal_range(sid, epoch=0)  # bumps epoch to 1
    with pytest.raises(FencedError):
        log.append(sid, _events(spark, 3), epoch=0)  # zombie writer
    base, end = log.append(sid, _events(spark, 3), epoch=1)
    assert (base, end) == (3, 6)
    # records land in the successor range's partition
    r = log.records().where(F.col("offset") >= 3).select("range_index").distinct().collect()
    assert [row.range_index for row in r] == [1]


def test_trim_vacuum_and_fetch_floor(spark, log):
    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 10))
    log.catalog.seal_range(sid, epoch=0)
    log.append(sid, _events(spark, 10), epoch=1)

    log.catalog.trim_stream(sid, 13)
    # fetch below the trim horizon returns nothing even before vacuum
    assert log.fetch(sid, 0, 13).count() == 0
    assert log.fetch(sid, 0, 100).count() == 7

    log.vacuum(sid)
    remaining = log.records().where(F.col("stream_id") == sid)
    assert remaining.count() == 7
    assert remaining.agg(F.min("offset")).collect()[0][0] == 13


def test_retention_expiry(spark, log):
    sid = log.catalog.create_stream(retention_ms=5_000).stream_id
    log.append(sid, _events(spark, 10, base_ts=0))  # ts = 0..9s
    # now = 12s → horizon 7s → offsets 0..6 expired (ts 0..6s < 7s)
    new_start = log.expire_retention(sid, now_ms=12_000)
    assert new_start == 7
    assert log.catalog.describe_stream(sid).start_offset == 7
    assert log.fetch(sid, 0, 100).count() == 3


def test_empty_append_noop(spark, log):
    sid = log.catalog.create_stream().stream_id
    base, end = log.append(sid, _events(spark, 0))
    assert (base, end) == (0, 0)
    assert log.catalog.describe_stream(sid).next_offset == 0


def test_vacuum_repairs_interrupted_swap(spark, log):
    """A crash between vacuum's two directory renames leaves the live
    tree missing the range dir while the rows sit in the scratch
    ``old-<tag>`` dir; the next maintenance pass must roll the swap back
    (restore the rows) instead of stranding them forever (review
    finding)."""
    import os
    import shutil

    sid = log.catalog.create_stream().stream_id
    log.append(sid, _events(spark, 8))
    assert log.fetch(sid, 0, 8).count() == 8

    # simulate the interrupted swap: d → old done, tmp → d never ran
    d = log._range_dir(sid, 0)
    scratch = f"{log.catalog.root}/_vacuum_tmp"
    os.makedirs(scratch, exist_ok=True)
    tmp = f"{scratch}/rewrite-s{sid}-r0"
    os.makedirs(tmp, exist_ok=True)  # stale partial rewrite
    os.replace(d, f"{scratch}/old-s{sid}-r0")
    assert log.fetch(sid, 0, 8).count() == 0  # the crash symptom

    log.vacuum(sid)  # repair runs at maintenance entry
    assert log.fetch(sid, 0, 8).count() == 8
    assert not os.path.exists(f"{scratch}/old-s{sid}-r0")
    assert not os.path.exists(tmp)

    # completed-swap leftover (crash after tmp → d, before rm old):
    # repair must finish the cleanup without touching the live dir
    shutil.copytree(d, f"{scratch}/old-s{sid}-r0")
    log.vacuum(sid)
    assert not os.path.exists(f"{scratch}/old-s{sid}-r0")
    assert log.fetch(sid, 0, 8).count() == 8


TS_MS = 1_700_000_000_123


def _payload_batch(spark, payloads, ts_ms=TS_MS):
    """The DataFrame a list append stood for before list appends were
    written on the driver: one row per payload, one constant ``ts``."""
    return (
        spark.createDataFrame([(p,) for p in payloads], "payload BINARY")
        .withColumn("ts", F.timestamp_millis(F.lit(ts_ms)))
        .select("ts", "payload")
    )


def _new_file(log, sid, append):
    from elastic_stream_spark.objects import parquet_files

    d = log._range_dir(sid, 0)
    before = set(parquet_files(d)) if os.path.isdir(d) else set()
    append()
    (path,) = set(parquet_files(d)) - before
    return path


def _columns(path):
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return [
        (
            c.path,
            c.physical_type,
            str(c.logical_type),
            c.converted_type,
            c.max_definition_level,
            c.max_repetition_level,
        )
        for c in md.schema
    ]


def test_list_append_file_matches_spark_written(spark, log):
    """A list append's driver-written file has the physical schema, the
    compression, the footer keys and the offset stats of the file Spark
    writes for the same payloads.  (The root group's name is not part of
    the comparison: Spark names it ``spark_schema``, pyarrow ``schema``,
    and no reader looks at it.)"""
    import pyarrow.parquet as pq

    from elastic_stream_spark.objects import file_offset_span

    sid = log.catalog.create_stream().stream_id
    payloads = [b"alpha", b"beta", b"gamma"]
    by_spark = _new_file(log, sid, lambda: log.append(sid, _payload_batch(spark, payloads)))
    by_list = _new_file(log, sid, lambda: log.append(sid, payloads, ts_ms=TS_MS))

    assert _columns(by_list) == _columns(by_spark)
    assert [c[:2] for c in _columns(by_list)][:2] == [("offset", "INT64"), ("ts", "INT96")]
    for key in (
        b"org.apache.spark.sql.parquet.row.metadata",
        b"org.apache.spark.version",
    ):
        assert (
            pq.ParquetFile(by_list).metadata.metadata[key]
            == pq.ParquetFile(by_spark).metadata.metadata[key]
        )
    for path in (by_spark, by_list):
        rg = pq.ParquetFile(path).metadata.row_group(0)
        assert {rg.column(i).compression for i in range(rg.num_columns)} == {"SNAPPY"}
    assert file_offset_span(by_spark) == (0, 2)
    assert file_offset_span(by_list) == (3, 5)
    # both files read back to the same records, offsets aside
    assert [(r.ts, r.properties, r.payload) for r in log.fetch(sid, 0, 3).collect()] == [
        (r.ts, r.properties, r.payload) for r in log.fetch(sid, 3, 6).collect()
    ]


def test_mixed_range_reads_like_spark_written(spark, log, workdir):
    """One range filled with list-append and DataFrame-append files reads
    exactly like a range of the same records written by Spark alone:
    through ``fetch``, the FileStreamSource (``read_stream``), the
    ``stream_log`` source, and through ``commit_objects``,
    ``delete_offset_span``, ``optimize`` and ``vacuum``."""
    from elastic_stream_spark.objects import parquet_files
    from elastic_stream_spark.streaming import StreamLogDataSource, read_stream

    blocks = [[f"b{i}-r{j}".encode() for j in range(3 + i)] for i in range(4)]
    mixed = log.catalog.create_stream().stream_id
    plain = log.catalog.create_stream().stream_id
    for i, payloads in enumerate(blocks):
        ts = TS_MS + i * 1000
        log.append(plain, _payload_batch(spark, payloads, ts))
        if i % 2:
            log.append(mixed, payloads, ts_ms=ts)
        else:
            log.append(mixed, _payload_batch(spark, payloads, ts))
    n = sum(len(b) for b in blocks)

    cols = ["range_index", "offset", "ts", "properties", "payload"]

    def fetched(sid):
        return [tuple(r) for r in log.fetch(sid, 0, 100).select(*cols).collect()]

    def streamed(sid, tag):
        q = (
            read_stream(spark, log, sid)
            .writeStream.format("memory")
            .queryName(f"t_mixed_fs_{tag}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        fs = spark.sql(f"SELECT {', '.join(cols)} FROM t_mixed_fs_{tag} ORDER BY offset")
        q = (
            spark.readStream.format("stream_log")
            .option("root", log.catalog.root)
            .option("streamId", sid)
            .load()
            .writeStream.format("memory")
            .queryName(f"t_mixed_sl_{tag}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        sl = spark.sql(f"SELECT {', '.join(cols)} FROM t_mixed_sl_{tag} ORDER BY offset")
        return [tuple(r) for r in fs.collect()], [tuple(r) for r in sl.collect()]

    want = fetched(plain)
    assert len(want) == n
    assert fetched(mixed) == want
    spark.dataSource.register(StreamLogDataSource)
    assert streamed(mixed, "m") == streamed(plain, "p") == (want, want)

    # commit_objects: one object per file, footer-exact record counts
    assert log.commit_objects(mixed) == log.commit_objects(plain) == len(blocks)
    assert sorted(o.n_records for o in log.objects.list_objects(mixed)) == sorted(
        o.n_records for o in log.objects.list_objects(plain)
    )

    # delete_offset_span finds a block's file by its offset stats, on
    # either kind of file (block 1 was a list append, block 2 was not)
    for i in (1, 2):
        base = sum(len(b) for b in blocks[:i])
        end = base + len(blocks[i])
        for sid in (mixed, plain):
            assert log.count_span(sid, base, end) == end - base
            assert log.delete_offset_span(sid, 0, base, end) == 1
            assert log.count_span(sid, base, end) == 0
    assert fetched(mixed) == fetched(plain)

    # optimize compacts the sealed range into one file; vacuum then drops
    # the rows below a trim point inside the first block
    for sid in (mixed, plain):
        log.catalog.seal_range(sid, epoch=0)
        assert log.optimize(sid) == {0: (2, 1)}
        assert len(parquet_files(log._range_dir(sid, 0))) == 1
        log.catalog.trim_stream(sid, 1)
        log.vacuum(sid)
    assert fetched(mixed) == fetched(plain)
    assert [r[1] for r in fetched(mixed)] == [1, 2] + list(
        range(sum(len(b) for b in blocks[:3]), n)
    )


def test_fetch_lists_only_the_fetched_stream(spark, log):
    """Fetch planning lists the fetched stream's directory only: another
    stream's files are not part of the read at all (its cost no longer
    grows with the number of streams in the log)."""
    a = log.catalog.create_stream().stream_id
    b = log.catalog.create_stream().stream_id
    log.append(a, [b"a0", b"a1"], ts_ms=TS_MS)
    log.append(b, _events(spark, 3))
    log.append(b, [b"b3"], ts_ms=TS_MS)

    files = log.fetch(a, 0, 10).inputFiles()
    assert files and all(f"/stream_id={a}/" in f for f in files), files
    assert [bytes(r.payload) for r in log.fetch(a, 0, 10).collect()] == [b"a0", b"a1"]
    # the recovery probes and retention read through the same scoped reader
    assert log.count_span(a, 0, 10) == 2 and log.has_offset(a, 1)
    assert not log.has_offset(a, 2)
    # a stream that has never been written reads as empty, same columns
    c = log.catalog.create_stream().stream_id
    assert log.fetch(c, 0, 10).collect() == []
    assert log.fetch(c, 0, 10).columns == log.fetch(a, 0, 10).columns
