"""The streaming pipeline the benchmark drives.

``stream_log`` source over ``SOURCES`` source streams -> a per-record
transform that tags each record with its source stream and offset ->
``ExactlyOnceAppendSink`` into one output stream.  Source records carry
1 KiB payloads derived from the seed.  They are bulk-loaded ahead of
time (untimed) and made visible at once by registering them with the
catalog.
"""

from __future__ import annotations

import hashlib
import os

from perfbench import stats
from perfbench.trace import Recorder

SOURCES = 8
RANGE = 500  # offsets per range of the bulk-loaded records
MAX_PER_TRIGGER = 2_000
QUERY = "pipe"
PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)


def payload(seed: int, sid: int, offset: int) -> bytes:
    """The record at ``offset`` of source ``sid``: 1 KiB of hex from
    sha512 of ``seed:sid:offset`` (the bytes ``Pipeline.load`` builds in
    SQL)."""
    return (hashlib.sha512(f"{seed}:{sid}:{offset}".encode()).hexdigest() * 8).encode()


class Pipeline:
    def __init__(self, spark, seed: int, root: str):
        from elastic_stream_spark.client import Frontend
        from elastic_stream_spark.kv import KVStore
        from elastic_stream_spark.streaming import StreamLogDataSource

        spark.dataSource.register(StreamLogDataSource)
        self.spark = spark
        self.seed = seed
        self.root = root
        self.fe = Frontend(spark, root)
        self.kv = KVStore(os.path.join(root, "kv"))
        self.src = [self.fe.create() for _ in range(SOURCES)]
        self.dst = self.fe.create()
        self.loaded = {s: 0 for s in self.src}  # written to the log
        self.next = {s: 0 for s in self.src}  # visible to readers
        self.drained = 0  # every source's records below this are drained
        self.drains = 0  # queries run so far
        self.batch_ops: list[str] = []  # op id of each traced sink call
        self.rec: Recorder | None = None

    # ------------------------------------------------------------ input

    def load(self, n: int) -> None:
        """Bulk-load the next ``n`` records of every source, not yet
        visible (one Spark job)."""
        from pyspark.sql import functions as F

        base = min(self.loaded.values())
        ids = self.spark.createDataFrame([(s,) for s in self.src], "stream_id long")
        off = self.spark.range(base, base + n).withColumnRenamed("id", "offset")
        key = F.concat_ws(
            ":", F.lit(str(self.seed)), F.col("stream_id").cast("string"), F.col("offset").cast("string")
        )
        self.fe.log.bulk_load(
            ids.crossJoin(off).select(
                "stream_id",
                (F.col("offset") / RANGE).cast("int").alias("range_index"),
                "offset",
                F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("offset")).alias("ts"),
                F.lit(None).cast("map<string,string>").alias("properties"),
                F.encode(F.repeat(F.sha2(key, 512), 8), "UTF-8").alias("payload"),
            )
        )
        self.loaded = {s: base + n for s in self.src}

    def release(self) -> int:
        """Make every loaded record visible; returns the number of
        records the output stream must then hold."""
        for s in self.src:
            self.fe.catalog.bulk_register(s, self.loaded[s], RANGE)
        self.next = dict(self.loaded)
        return sum(self.next.values())

    # ------------------------------------------------------------ query

    def drain(self):
        """Drain the records released since the last drain into the
        output stream with one ``availableNow`` run of a new streaming
        query, and return the stopped query.  Raises if it failed.

        Each drain is a new query (own checkpoint, subscription and sink
        name) starting at the first undrained offset: a second
        ``availableNow`` run on one ``stream_log`` checkpoint drained
        nothing, and a query left running splits a window into two
        microbatches whenever a trigger fires while the window is being
        released, one source stream at a time."""
        from pyspark.sql import functions as F

        from elastic_stream_spark.streaming import ExactlyOnceAppendSink

        name = f"{QUERY}-{self.drains}"
        self.drains += 1
        sdf = (
            self.spark.readStream.format("stream_log")
            .option("root", self.root)
            .option("streamIds", ",".join(str(s) for s in self.src))
            .option("startOffset", self.drained)
            .option("maxRecordsPerTrigger", MAX_PER_TRIGGER)
            .option("subscription", name)
            .load()
        )
        out = sdf.select(
            "ts",
            F.create_map(
                F.lit("src"), F.col("stream_id").cast("string"),
                F.lit("off"), F.col("offset").cast("string"),
            ).alias("properties"),
            "payload",
        )
        sink = ExactlyOnceAppendSink(self.fe.log, self.kv, self.dst, name)

        def on_batch(df, batch_id: int) -> None:
            rec = self.rec
            if rec is None:
                sink(df, batch_id)
            else:
                op = f"{name}.{batch_id}"
                with rec.span("op.microbatch", op=op):
                    sink(df, batch_id)
                self.batch_ops.append(op)

        query = (
            out.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(self.root, "ckpt", name))
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()  # raises StreamingQueryException on failure
        self.drained = min(self.next.values())
        return query

    def output(self) -> int:
        """Records the output stream has confirmed."""
        return self.fe.catalog.describe_stream(self.dst).confirmed_offset

    # ------------------------------------------------------------ results

    def check(self) -> str | None:
        """None when the output stream holds every visible input record
        exactly once with its payload unchanged; else what is wrong."""
        from pyspark.sql import functions as F

        end = self.output()
        rows = (
            self.fe.log.fetch(self.dst, 0, end)
            .select(
                F.col("properties")["src"].cast("long").alias("s"),
                F.col("properties")["off"].cast("long").alias("o"),
                "payload",
            )
            .collect()
        )
        seen: dict[tuple[int, int], int] = {}
        bad = 0
        for r in rows:
            seen[(r.s, r.o)] = seen.get((r.s, r.o), 0) + 1
            if bytes(r.payload) != payload(self.seed, r.s, r.o):
                bad += 1
        want = {(s, o) for s in self.src for o in range(self.next[s])}
        dup = sum(1 for c in seen.values() if c > 1)
        missing = len(want - seen.keys())
        extra = len(seen.keys() - want)
        if dup or missing or extra or bad:
            return (
                f"output stream: {missing} missing, {dup} duplicated, "
                f"{extra} unexpected, {bad} payloads changed of {len(want)}"
            )
        return None

    def layers(self, rec: Recorder, ops: list[str], progress: list, jobs: int) -> dict[str, float]:
        """Per-layer figures of the microbatches whose sink calls were
        traced as ``ops``.  Phase timings are over the batches that
        carried records."""
        n = max(1, len(ops))
        ops = set(ops)
        spans = rec.by_name(ops)

        def ms(name: str) -> float:
            d = [1000 * s.dur for s in spans.get(name, [])]
            return stats.median(d) if d else 0.0

        out: dict[str, float] = {}
        for p in PHASES:
            vals = [float(pr.durationMs[p]) for pr in progress if pr.numInputRows and p in pr.durationMs]
            out[f"streaming.phase.{p}_ms"] = stats.median(vals) if vals else 0.0
        out["streaming.sink_ms"] = ms("streaming.sink.call")
        rows = [pr.numInputRows for pr in progress]
        out["streaming.rows_per_batch"] = sum(rows) / max(1, len(rows))
        out["streaming.empty_batch_frac"] = sum(1 for r in rows if r == 0) / max(1, len(rows))
        for c in ("get", "cas"):
            out[f"kv.{c}_ms"] = ms(f"kv.{c}")
            out[f"kv.{c}_calls_per_batch"] = len(spans.get(f"kv.{c}", [])) / n
        out["spark.jobs_per_microbatch"] = jobs / n
        return out
