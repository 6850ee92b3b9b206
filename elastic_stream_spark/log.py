"""The record log — data plane: append / fetch / trim-vacuum / retention.

Reference parity:
- APPEND 0x1001  ≙ range-server/src/handler/append.rs:73-178 + offset
  stamping components/replication/src/stream/replication_range.rs:177-223
- FETCH  0x1002  ≙ range-server/src/handler/fetch.rs:48-155 + store fetch
  components/store/src/store/elastic_store.rs:204-322
- retention expiry ≙ components/store/src/io/wal.rs:362-377
- tiered storage / sparse index ≙ parquet row-group stats + partition
  pruning (components/model/src/object.rs:31-97 is replaced by Catalyst's
  min/max pruning — see SURVEY.md §4)

Physical layout: hive-partitioned parquet
``records/stream_id=<id>/range_index=<i>/*.parquet``.  A fetch for one
stream's offset window therefore prunes to a handful of files before any
row is read — the Spark analogue of the reference's RocksDB
(stream,range,offset)→handle index.  At 100 TB this layout keeps per-stream
reads O(bytes requested), not O(table size), and appends from different
streams never contend (separate directories, separate catalog rows —
matching the reference's claim that throughput is flat in stream count).
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from contextlib import contextmanager, suppress

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elastic_stream_spark.catalog import StreamCatalog

# Envelope schema — SURVEY.md §1.3 / FIXTURES.md B.1.
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.LongType(), False),
        T.StructField("range_index", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

PAYLOAD_COLS = ["ts", "properties", "payload"]

# What a range file holds (the partition columns live in its path), in
# Spark's types and in Arrow's.  A driver-written list append must read
# like a Spark-written file: the same physical parquet schema (required
# int64 offset, required INT96 ts, optional MAP<string,string>, optional
# binary), snappy, and the footer keys Spark writes — the row metadata is
# the JVM's field order, no sort_keys, so it is byte-identical.  pyarrow
# also stores its ``ARROW:schema`` key (it writes no key-value metadata
# without it); Spark ignores that key, and with ``ts`` as timestamp[ns]
# pyarrow reads both kinds of file with the same Arrow schema.
_FILE_SCHEMA = T.StructType(
    [f for f in RECORD_SCHEMA.fields if f.name not in ("stream_id", "range_index")]
)
_ARROW_FILE_SCHEMA = pa.schema(
    [
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("ts", pa.timestamp("ns"), nullable=False),
        pa.field("properties", pa.map_(pa.string(), pa.string())),
        pa.field("payload", pa.binary()),
    ],
    metadata={
        "org.apache.spark.version": pyspark.__version__,
        "org.apache.spark.sql.parquet.row.metadata": json.dumps(
            _FILE_SCHEMA.jsonValue(), separators=(",", ":")
        ),
    },
)


class StreamLog:
    """Append/fetch over the partitioned record log.

    One instance per catalog root; all methods are driver-side plan builders
    except ``append``.  ``append`` of a DataFrame runs two Spark jobs
    (count, write); ``append`` of a ``list[bytes]`` runs none — the
    payloads are already in driver memory, so the range file is written
    on the driver with pyarrow and made visible by one rename.  Reads of
    one stream (``fetch``, the recovery probes, retention) list only that
    stream's directory, so their planning cost does not grow with the
    number of streams in the log.
    """

    def __init__(self, spark: SparkSession, catalog: StreamCatalog):
        from elastic_stream_spark.objects import ObjectStore

        self.spark = spark
        self.catalog = catalog
        self.records_root = f"{catalog.root}/records"
        self.objects = ObjectStore(catalog.root)

    # ----------------------------------------------------------- append

    def append(
        self,
        stream_id: int,
        batch: DataFrame | list[bytes],
        epoch: int | None = None,
        ts_ms: int = 0,
    ) -> tuple[int, int]:
        """Append a batch to the stream's mutable range; returns
        ``(base_offset, last_offset_exclusive)``.

        Offset assignment (SURVEY.md §7 hard-part 1): the catalog reserves a
        contiguous block under its lock (≙ the reference's write-window
        serialization, window.rs:7-45), the block's file is written, then
        the confirm offset advances past it — in that order on both paths,
        so readers gated on the confirm offset never admit a block whose
        file has not landed.

        ``batch`` is either a DataFrame with column ``ts`` (optional
        ``properties``, ``payload``), stamped ``base + row_number() - 1``
        in ``ts`` order inside a Spark write job (``write_stamped``), or a
        list of payload bytes, each one record with timestamp ``ts_ms``,
        stamped ``base + i`` in list order and written on the driver
        (``_write_payloads``) without any Spark job.
        """
        if isinstance(batch, DataFrame):
            batch = self.prepare_batch(batch)
            n = batch.count()
        else:
            batch = [bytes(p) for p in batch]
            n = len(batch)
        if n == 0:
            meta = self.catalog.describe_stream(stream_id)
            return meta.next_offset, meta.next_offset
        base, rng = self.catalog.reserve_offsets(stream_id, n, epoch=epoch)
        if isinstance(batch, DataFrame):
            self.write_stamped(stream_id, batch, base, rng.range_index)
        else:
            self._write_payloads(stream_id, batch, ts_ms, base, rng.range_index)
        # the write completed → advance the durable confirm offset
        # (readers admit up to confirmed, never the reserve-time
        # next_offset — see StreamCatalog.confirm_offset)
        self.catalog.confirm_offset(stream_id, base + n)
        return base, base + n

    def _write_payloads(
        self, stream_id: int, payloads: list[bytes], ts_ms: int, base: int, range_index: int
    ) -> None:
        """Write one range file for a list append, on the driver.  The
        file is written and fsynced under a dot-prefixed temp name (every
        reader — Spark, pyarrow datasets, ``parquet_files`` — skips
        dot-files), then renamed to a Spark-style ``part-*`` name: a crash
        leaves either no visible file or the whole file, never a torn one."""
        n = len(payloads)
        table = pa.table(
            [
                pa.array(range(base, base + n), pa.int64()),
                pa.array([ts_ms * 1_000_000] * n, pa.timestamp("ns")),
                pa.nulls(n, pa.map_(pa.string(), pa.string())),
                pa.array(payloads, pa.binary()),
            ],
            schema=_ARROW_FILE_SCHEMA,
        )
        d = self._range_dir(stream_id, range_index)
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4()}-c000.snappy.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        try:
            with open(tmp, "wb") as f:
                # stats on ``offset`` only: the fetch pushdown, the
                # stream_log source and delete_offset_span read no other
                # column's, and min/max of 1 KiB payloads would make a
                # small append's file ~30 % larger
                pq.write_table(
                    table,
                    f,
                    compression="snappy",
                    use_deprecated_int96_timestamps=True,
                    write_statistics=["offset"],
                )
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(d, name))  # the visibility point
        except BaseException:
            with suppress(FileNotFoundError):
                os.remove(tmp)
            raise

    def prepare_batch(self, batch: DataFrame) -> DataFrame:
        """Normalize an input batch to the payload columns and truncate its
        lineage (LAZY localCheckpoint), so the counted rows and the written
        rows are the same physical data: a non-deterministic input
        (sample/shuffle re-execution, foreachBatch recompute) must not
        write a different row count than the reserved block.

        Lazy on purpose: the caller's first action (``append``'s count)
        materializes the checkpoint AND returns the row count in ONE Spark
        job, instead of the eager-checkpoint + count double job — the
        append path is two jobs total (materialize-count, write), which is
        what keeps per-append overhead low enough for aggregate throughput
        to scale with stream count (docs/benchmark.md:27-32).  That holds
        for DataFrame batches only; a ``list[bytes]`` append never comes
        here and runs no Spark job at all (see ``append``)."""
        missing = {"ts"} - set(batch.columns)
        if missing:
            raise ValueError(f"append batch missing columns: {missing}")
        if "properties" not in batch.columns:
            batch = batch.withColumn(
                "properties", F.lit(None).cast("map<string,string>")
            )
        if "payload" not in batch.columns:
            batch = batch.withColumn("payload", F.lit(None).cast("binary"))
        return batch.select(*PAYLOAD_COLS).localCheckpoint(eager=False)

    def write_stamped(
        self, stream_id: int, batch: DataFrame, base: int, range_index: int
    ) -> None:
        """Write a prepared batch with offsets ``base + row_number - 1``
        into the given range.  Split out from ``append`` so an
        exactly-once sink can replay a write against an ALREADY-reserved
        block (same base/range) after a crash, instead of reserving anew
        and double-appending.

        The write lands DIRECTLY in the range's partition directory (an
        append addresses exactly one range), not via ``partitionBy`` over
        the whole tree: concurrent appends to different streams then use
        disjoint output dirs — including disjoint job staging dirs — so
        cross-stream appends never contend on anything but the catalog's
        microsecond offset reservation.  (Same-stream concurrent writers
        are excluded by epoch fencing — the one-writer-per-stream rule.)
        """
        from pyspark.sql import Window

        # Single-partition window — AUDITED, acceptable: one append
        # addresses exactly one range, so the window spans a single
        # record batch (bounded by batch size), mirroring the reference's
        # one-mutable-range write serialization.  The partition key is a
        # constant-valued NON-FOLDABLE expression (pmod(ts, 1) ≡ 0): it
        # hashes every row to one partition — identical execution to an
        # unpartitioned window — while surviving constant folding (a
        # plain lit(0) is optimized away, resurrecting the spurious "No
        # Partition Defined" warning that would mask a REAL data-sized
        # global window elsewhere).
        # coalesce: a NULL ts must not hash to a second (NULL-keyed)
        # window partition — that would restart row_number and stamp
        # duplicate offsets (caught in review); NULL-ts rows sort first
        # (Spark asc_nulls_first), deterministically inside the one
        # partition
        w = Window.partitionBy(
            F.pmod(F.coalesce(F.col("ts").cast("long"), F.lit(0)), F.lit(1))
        ).orderBy(F.col("ts"), F.monotonically_increasing_id())
        out = batch.withColumn(
            "offset", (F.lit(base) + F.row_number().over(w) - 1).cast("long")
        ).select("offset", "ts", "properties", "payload")
        out.write.mode("append").parquet(self._range_dir(stream_id, range_index))

    def has_offset(self, stream_id: int, offset: int) -> bool:
        """True iff a record at exactly (stream_id, offset) is durably in
        the log — the reconcile probe for crash-recovery (partition-pruned
        point read)."""
        return (
            self._stream_records(stream_id)
            .where(F.col("offset") == offset)
            .limit(1)
            .count()
            > 0
        )

    def count_span(self, stream_id: int, base: int, end: int) -> int:
        """Rows durably in the log with offset in ``[base, end)`` —
        partition-pruned, footer-stats-skipped count.  The crash-recovery
        reconcile probe: a completed write of a reserved block counts
        exactly ``end - base``; a torn (mid-job-commit) write counts
        something in between."""
        return (
            self._stream_records(stream_id)
            .where((F.col("offset") >= base) & (F.col("offset") < end))
            .count()
        )

    def delete_offset_span(self, stream_id: int, range_index: int, base: int, end: int) -> int:
        """Remove data files of one range whose footer offset stats overlap
        ``[base, end)`` — torn-write cleanup before a replay re-writes the
        block.  Offsets in a reserved block belong to exactly one append
        attempt, so any overlapping file is a partial product of that
        attempt.  A file without stats is conservatively deleted only if
        the whole range is being replayed (never happens with our writers —
        Spark and the driver-side list write both write offset stats).
        Returns files removed."""
        from elastic_stream_spark.objects import file_offset_span, parquet_files

        removed: list[str] = []
        for p in parquet_files(self._range_dir(stream_id, range_index)):
            span = file_offset_span(p)
            if span is None:
                continue
            lo, hi = span
            if lo < end and hi >= base:
                os.remove(p)
                removed.append(p)
        if removed:
            self.objects.remove(removed)
        return len(removed)

    def bulk_load(self, records: DataFrame) -> None:
        """Bulk-ingest pre-stamped records (all RECORD_SCHEMA columns
        present) in ONE distributed partitioned write — the object-offload
        / recovery ingest path (≙ range_offload.rs:54-125 committing whole
        ranges as objects).  At 100 TB this is how data enters the log:
        a single ``partitionBy(stream_id, range_index)`` job, parallel in
        both streams and ranges, no per-batch serialization point.
        Catalog metadata is registered separately via
        ``StreamCatalog.bulk_register``.
        """
        (
            records.select([f.name for f in RECORD_SCHEMA.fields])
            # co-locate each (stream, range) into one task before the
            # dynamic-partition write: every task then writes whole
            # partition directories sequentially instead of paying the
            # per-task partition-sort / concurrent-writer machinery.
            # Measured 2.4x on the ingest bench (336 -> 805 MB/s tmpfs);
            # at scale the extra shuffle is the standard pre-write
            # clustering pass and bounds output to one file per range.
            .repartition("stream_id", "range_index")
            .write.mode("append")
            .partitionBy("stream_id", "range_index")
            .parquet(self.records_root)
        )

    # ------------------------------------------------------------ fetch

    def records(self) -> DataFrame:
        """The full log as a DataFrame (all streams). Partition columns
        stream_id/range_index come back typed per RECORD_SCHEMA.  An
        empty (never-written) log reads as an empty DataFrame — crash
        recovery probes the log before the first write may have landed."""
        if not os.path.exists(self.records_root):
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return (
            self.spark.read.option("basePath", self.records_root)
            .schema(RECORD_SCHEMA)
            .parquet(self.records_root)
        )

    def _stream_records(self, stream_id: int) -> DataFrame:
        """One stream's records, RECORD_SCHEMA-typed like ``records()``.
        The read's root is the stream's directory (``basePath`` stays the
        log root, so ``stream_id``/``range_index`` are still partition
        columns): planning lists this stream's files only, not every
        stream's.  The ``stream_id`` predicate is kept so the plan still
        shows the partition filter."""
        stream_dir = f"{self.records_root}/stream_id={stream_id}"
        if not os.path.isdir(stream_dir):
            # the column order a parquet read gives: partition columns last
            return self.spark.createDataFrame([], RECORD_SCHEMA).select(
                *_FILE_SCHEMA.names, "stream_id", "range_index"
            )
        return (
            self.spark.read.option("basePath", self.records_root)
            .schema(RECORD_SCHEMA)
            .parquet(stream_dir)
            .where(F.col("stream_id") == stream_id)
        )

    def fetch(self, stream_id: int, start_offset: int, end_offset: int) -> DataFrame:
        """FETCH ≙ read ``[start_offset, end_offset)`` in offset order.

        The read lists only the stream's directory (``_stream_records``),
        so planning is O(this stream's files), flat in the number of
        streams; the offset predicates push down to parquet row-group
        stats — the same
        IO-skipping role as the reference's sparse index
        (components/model/src/object.rs:31-97).  Reads below the trim
        horizon return nothing (≙ OffsetOutOfRange after TRIM_STREAM).
        """
        meta = self.catalog.describe_stream(stream_id)
        lo = max(start_offset, meta.start_offset)
        return (
            self._stream_records(stream_id)
            .where((F.col("offset") >= lo) & (F.col("offset") < end_offset))
            .orderBy("offset")
        )

    def next_offset(self, stream_id: int) -> int:
        """≙ DESCRIBE_RANGE's max-offset answer (SURVEY.md §2.3 row 17)."""
        return self.catalog.describe_stream(stream_id).next_offset

    def confirmed_offset(self, stream_id: int) -> int:
        """Durable high-water mark: offsets below this have landed in the
        log (≙ the reference's confirm offset — see
        StreamCatalog.confirm_offset).  Readers poll THIS, not the
        reserve-time next_offset."""
        return self.catalog.describe_stream(stream_id).confirmed_offset

    # ---------------------------------------------------- objects plane

    def _range_dir(self, stream_id: int, range_index: int) -> str:
        return f"{self.records_root}/stream_id={stream_id}/range_index={range_index}"

    def commit_objects(self, stream_id: int) -> int:
        """Register every not-yet-committed data file of the stream in the
        objects catalog (≙ COMMIT_OBJECT, rpc.fbs:653-689: offloaded data
        becomes readable metadata).  Idempotent; returns the number of
        newly committed objects.  Row counts come from parquet footers —
        no data is read."""
        import glob as _glob

        from elastic_stream_spark.objects import file_row_count, parquet_files

        known = {o.path for o in self.objects.list_objects(stream_id)}
        entries = []
        for d in sorted(
            _glob.glob(f"{self.records_root}/stream_id={stream_id}/range_index=*")
        ):
            ridx = int(d.rsplit("=", 1)[1])
            for p in parquet_files(d):
                if p in known:
                    continue
                entries.append(
                    (stream_id, ridx, p, file_row_count(p), os.path.getsize(p))
                )
        if entries:  # one txn for the whole stream, not one per file
            self.objects.commit_batch(entries)
        return len(entries)

    @contextmanager
    def _maintenance_lock(self, stream_id: int):
        """Per-stream mutual exclusion for maintenance (vacuum/optimize).
        ``_repair_swaps`` treats ``old-*``/``rewrite-*`` leftovers as
        crash debris — correct only if at most one maintenance process
        works a stream at a time: a second process entering mid-swap of
        the first would roll back its in-flight ``old-*`` rename over the
        live dir and rmtree its scratch, corrupting a healthy swap
        (caught in review).  An fcntl lock file per stream serializes
        them; cross-STREAM maintenance still parallelizes freely (the
        sharding story every other per-stream path uses)."""
        lock_dir = f"{self.catalog.root}/_maintenance"
        os.makedirs(lock_dir, exist_ok=True)
        with open(f"{lock_dir}/s{stream_id}.lock", "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            yield

    def _repair_swaps(self, stream_id: int) -> None:
        """Complete/roll back any directory swap a maintenance crash left
        half-done (vacuum/optimize rename ``d → old``, ``tmp → d``,
        ``rm old``).  A crash between the two renames leaves the live
        tree MISSING the range dir while the authoritative rows sit in
        ``old-<tag>`` — without this repair they were stranded forever
        (fetch returned nothing for the range; caught in review).  Rules:
        ``old`` present + target missing → roll back (restore old; the
        rewrite is redone later); ``old`` present + target present → the
        swap completed, finish the cleanup; stale ``rewrite-*`` scratch →
        drop (possibly partial; always regenerable).  Runs at every
        vacuum/optimize entry — under ``_maintenance_lock``, so leftovers
        are guaranteed crash debris, never another process's live swap —
        and one completed maintenance pass heals any earlier crash."""
        import glob as _glob
        import shutil

        for scratch in (
            f"{self.catalog.root}/_vacuum_tmp",
            f"{self.catalog.root}/_optimize_tmp",
        ):
            if not os.path.isdir(scratch):
                continue
            for old in _glob.glob(f"{scratch}/old-s{stream_id}-r*"):
                tag = os.path.basename(old)[len("old-") :]
                sid_s, ridx_s = tag[1:].split("-r")
                d = self._range_dir(int(sid_s), int(ridx_s))
                if not os.path.exists(d):
                    os.replace(old, d)
                else:
                    shutil.rmtree(old)
            for tmp in _glob.glob(f"{scratch}/rewrite-s{stream_id}-r*"):
                shutil.rmtree(tmp, ignore_errors=True)

    def optimize(self, stream_id: int) -> dict[int, tuple[int, int]]:
        """Compact each SEALED multi-file range into one object
        (≙ range_accumulator.rs:129-170 small-object compaction).  Sealed
        ranges are immutable, so the rewrite races with nothing; the
        mutable range is skipped (it still takes appends).  Returns
        {range_index: (files_before, files_after)}.  Fetch results are
        identical before/after — only the object layout changes.  The
        swap uses the same crash-safe ordering as vacuum."""
        import shutil

        from elastic_stream_spark.objects import parquet_files

        scratch = f"{self.catalog.root}/_optimize_tmp"
        os.makedirs(scratch, exist_ok=True)
        with self._maintenance_lock(stream_id):
            self._repair_swaps(stream_id)  # heal any earlier maintenance crash
            out: dict[int, tuple[int, int]] = {}
            for r in self.catalog.list_ranges(stream_id):
                if not r.sealed:
                    continue
                d = self._range_dir(stream_id, r.range_index)
                files = parquet_files(d)
                if len(files) <= 1:
                    continue
                tag = f"s{stream_id}-r{r.range_index}"
                tmp = f"{scratch}/rewrite-{tag}"
                old = f"{scratch}/old-{tag}"
                (
                    self.spark.read.parquet(d)
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(tmp)
                )
                os.replace(d, old)
                shutil.move(tmp, d)
                shutil.rmtree(old)
                self.objects.remove(files)
                out[r.range_index] = (len(files), len(parquet_files(d)))
            if out:
                self.commit_objects(stream_id)
            return out

    # ------------------------------------------------- maintenance jobs

    def vacuum(self, stream_id: int) -> None:
        """Physically drop data below the trim horizon / of deleted
        streams.  Rewrites only the straddling range partition; ranges
        entirely below the horizon are removed wholesale (cheap directory
        deletes — the common case, ≙ WAL segment reclaim wal.rs:435-541).

        The objects catalog is reconciled in the same pass: descriptors of
        deleted files are dropped, and if the rewritten straddling range
        had committed descriptors, its new file is committed in their
        place — the metadata plane never points at reclaimed data
        (≙ compaction never leaves committed object metadata behind,
        components/store/src/index/compaction.rs:18-56).
        """
        import shutil

        from elastic_stream_spark.objects import parquet_files

        # single-shard read (same correctness level as describe_stream —
        # in-flight txn staging is replayed at catalog init): vacuum only
        # needs THIS stream's metadata, and sweep() calls it per stream,
        # so a full-catalog _load() here made sweep O(streams²) shard
        # reads (caught in review)
        with self._maintenance_lock(stream_id):
            data = self.catalog._read_shard(stream_id)
            if data is None:
                return
            sraw = data["stream"]
            stream_ranges = data["ranges"]
            self._repair_swaps(stream_id)  # heal any earlier maintenance crash
            keep_from = sraw["start_offset"]
            live = {r["range_index"] for r in stream_ranges}
            import glob
            import os

            for d in glob.glob(
                f"{self.records_root}/stream_id={stream_id}/range_index=*"
            ):
                ridx = int(d.rsplit("=", 1)[1])
                if sraw["deleted"] or ridx not in live:
                    self.objects.remove(parquet_files(d))
                    shutil.rmtree(d)
                    continue
            if sraw["deleted"]:
                return
            # rewrite the straddling range (drop rows below keep_from).
            # Crash-safety order: write the rewrite OUTSIDE the records
            # tree, rename the old partition aside (also outside the tree,
            # so concurrent partition discovery never sees a stray dir),
            # move the new one in, delete the old dir last — no point at
            # which the retained rows exist in zero locations, and
            # _repair_swaps (run at every maintenance entry) rolls back a
            # swap interrupted between the two renames, so the rows are
            # also never STRANDED outside the read tree.
            scratch = f"{self.catalog.root}/_vacuum_tmp"
            os.makedirs(scratch, exist_ok=True)
            for r in stream_ranges:
                d = f"{self.records_root}/stream_id={stream_id}/range_index={r['range_index']}"
                if not os.path.exists(d):
                    continue
                df = self.spark.read.parquet(d)
                if df.where(F.col("offset") < keep_from).limit(1).count() == 0:
                    continue
                kept = df.where(F.col("offset") >= keep_from)
                tag = f"s{stream_id}-r{r['range_index']}"
                tmp = f"{scratch}/rewrite-{tag}"
                old = f"{scratch}/old-{tag}"
                old_files = parquet_files(d)
                kept.write.mode("overwrite").parquet(tmp)
                os.replace(d, old)
                shutil.move(tmp, d)
                shutil.rmtree(old)
                # metadata reconcile: drop descriptors of the replaced
                # files; if any existed, the stream's objects are
                # catalog-managed — commit the rewritten file(s) so the
                # catalog matches disk.
                if self.objects.remove(old_files):
                    self.commit_objects(stream_id)

    def sweep(self, now_ms: int | None = None, optimize: bool = False) -> dict:
        """One maintenance pass over ALL streams — the engine's analogue of
        the reference's background reclaim + offload loops
        (components/store/src/io/wal.rs:362-377 check_expired_segment on a
        timer; components/object-storage/src/range_accumulator.rs:129-170
        compaction): per stream, retention trim → vacuum (which reconciles
        the objects catalog), deleted-stream data reclaim, optional
        compaction of sealed multi-file ranges, and a final orphan-descriptor
        reconcile.  Idempotent; safe to run on any schedule.  Returns a
        per-stream report.

        At 100 TB each step is either driver-side metadata or a
        partition-pruned per-range Spark job; streams are independent, so
        a cluster deployment can shard the loop by stream_id."""
        import time as _time

        now_ms = int(_time.time() * 1000) if now_ms is None else now_ms
        report: dict = {}
        for meta in self.catalog.list_streams(include_deleted=True):
            sid = meta.stream_id
            if meta.deleted:
                self.vacuum(sid)  # reclaims dirs + object descriptors
                report[sid] = {"deleted": True}
                continue
            entry: dict = {}
            entry["start_offset"] = self.expire_retention(sid, now_ms)
            if optimize:
                entry["optimized"] = self.optimize(sid)
            report[sid] = entry
        # catch-all reconcile: drop descriptors whose file no longer
        # exists (e.g. metadata committed by an older engine version) —
        # after this, the objects catalog exactly mirrors the data plane.
        stale = [
            o.path for o in self.objects.list_objects() if not os.path.exists(o.path)
        ]
        if stale:
            self.objects.remove(stale)
        return report

    def expire_retention(self, stream_id: int, now_ms: int) -> int:
        """Retention job ≙ wal.rs:362-377 check_expired_segment: trim the
        stream to the first offset whose ts is within the retention window.
        Returns the new start_offset."""
        meta = self.catalog.describe_stream(stream_id)
        if meta.retention_ms < 0:
            return meta.start_offset
        horizon = F.timestamp_millis(F.lit(now_ms - meta.retention_ms))
        row = (
            self._stream_records(stream_id)
            .where(F.col("ts") >= horizon)
            .agg(F.min("offset").alias("first_live"))
            .collect()[0]
        )
        new_start = row["first_live"] if row["first_live"] is not None else meta.next_offset
        if new_start > meta.start_offset:
            self.catalog.trim_stream(stream_id, new_start)
            self.vacuum(stream_id)
        return max(new_start, meta.start_offset)
