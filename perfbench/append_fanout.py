"""append-fanout: the reference's headline path, append then read back.

Closed loop, ``THREADS`` producer threads over ``STREAMS`` streams.  Each
thread owns a disjoint share of the streams (the catalog's one writer per
stream contract) and walks it in a seed-shuffled order.  One operation:
``Stream.append`` of ``RECORDS`` records of ``PAYLOAD`` bytes, then
``poll_fetch`` of that window until it is visible, then a collect of the
window and a check of its offsets and payload digest.
"""

from __future__ import annotations

import hashlib
import os
import random
import threading
import time
import traceback

from perfbench import stats
from perfbench.trace import Recorder, job_group, spark_counts

THREADS = 4
STREAMS = 1000
RECORDS = 16
PAYLOAD = 1024
MIN_OPS = 20  # enough for a guarded p50 (stats.MIN_TAIL beyond it)
VISIBLE_WAIT_MS = 60_000
# share of an append cycle's wall time the traced calls may leave
# uncovered; above it the spans no longer explain the op
MAX_UNACCOUNTED = 0.05


def _digest(payloads: list[bytes]) -> str:
    h = hashlib.sha256()
    for p in payloads:
        h.update(p)
    return h.hexdigest()


class Workload:
    name = "append-fanout"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.attempted = 0
        self.failures: list[str] = []
        self.appended: dict[int, int] = {}
        self.create_ms: list[float] = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------ set-up

    def inputs(self, rep: int) -> None:
        """Nothing to prepare: each op makes its payloads from the seed."""

    def setup(self, rep: int) -> None:
        """A fresh storage root with every stream created, and a writer
        handle on each at its creation epoch."""
        from elastic_stream_spark.client import Frontend, Stream

        self.root = os.path.join(self.workdir, f"fanout-{rep}")
        self.fe = Frontend(self.spark, self.root)
        t0 = time.perf_counter()
        metas = [self.fe.catalog.create_stream() for _ in range(STREAMS + THREADS)]
        self.create_ms.append(1000 * (time.perf_counter() - t0) / len(metas))
        self.streams = {m.stream_id: Stream(self.fe, m.stream_id, m.epoch) for m in metas}
        sids = list(self.streams)
        self.appended = {sid: 0 for sid in sids}
        measured, self.warm_sids = sids[:STREAMS], sids[STREAMS:]
        rng = random.Random(self.seed)
        rng.shuffle(measured)
        self.owned = [measured[k::THREADS] for k in range(THREADS)]
        self.cursor = [0] * THREADS

    # ------------------------------------------------------------ one op

    def _op(self, sid: int, rng: random.Random, rec: Recorder | None, op_id: str):
        from elastic_stream_spark.streaming import source

        payloads = [rng.randbytes(PAYLOAD) for _ in range(RECORDS)]
        stream = self.streams[sid]
        t0 = time.perf_counter()
        res = stream.append(payloads, ts_ms=1_700_000_000_000 + self.seed)
        t_ack = time.perf_counter()
        df, end = source.poll_fetch(
            self.fe.log, sid, res.base_offset, min_records=RECORDS, max_wait_ms=VISIBLE_WAIT_MS
        )
        if rec is None:
            rows = df.select("offset", "payload").collect()
        else:
            with rec.span("log.fetch_action"):
                rows = df.select("offset", "payload").collect()
        t_vis = time.perf_counter()
        with self._lock:
            self.appended[sid] += RECORDS
        rows.sort(key=lambda r: r.offset)
        base = res.base_offset
        ok = (
            res.end_offset == base + RECORDS
            and end == base + RECORDS
            and [r.offset for r in rows] == list(range(base, base + RECORDS))
            and _digest([bytes(r.payload) for r in rows]) == _digest(payloads)
        )
        if not ok:
            self.failures.append(f"{op_id}: stream {sid} window [{base}, {base + RECORDS}) mismatch")
        return t0, t_ack, t_vis, ok

    def warm(self) -> None:
        """Untimed: one op per thread, on streams outside the measured set,
        so every thread's first Spark jobs are paid before timing."""
        threads = [
            threading.Thread(
                target=self._op, args=(self.warm_sids[k], random.Random(f"{self.seed}:warm{k}"), None, f"warm{k}")
            )
            for k in range(THREADS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # ------------------------------------------------------------ measure

    def measure(self, seconds: float, rec: Recorder | None) -> dict:
        samples: list[tuple[int, float, float, float, str]] = []
        t_start = time.perf_counter()
        t_stop = t_start + seconds

        def producer(tid: int) -> None:
            owned = self.owned[tid]
            while True:
                now = time.perf_counter()
                with self._lock:
                    # past the window only to reach MIN_OPS, and never
                    # past a second window: failing ops end the run
                    if now >= t_stop and (len(samples) >= MIN_OPS or now >= t_stop + seconds):
                        return
                    self.attempted += 1
                # every window goes on to streams the last one left alone
                k = self.cursor[tid]
                self.cursor[tid] += 1
                sid = owned[k % len(owned)]
                op_id = f"{tid}-{k}"
                rng = random.Random(f"{self.seed}:{op_id}")  # the op's payload bytes
                try:
                    if rec is None:
                        t0, ta, tv, ok = self._op(sid, rng, None, op_id)
                    else:
                        with job_group(self.spark, op_id), rec.span("op.append_cycle", op=op_id):
                            t0, ta, tv, ok = self._op(sid, rng, rec, op_id)
                except Exception as e:  # noqa: BLE001 - counted, never silent
                    traceback.print_exc()
                    self.failures.append(f"{op_id}: {type(e).__name__}: {e}")
                    continue
                if ok:
                    with self._lock:
                        samples.append((tid, t0, ta, tv, op_id))

        threads = [threading.Thread(target=producer, args=(k,)) for k in range(THREADS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        # each producer's rate over its own busy span, summed: a producer
        # still finishing its last op does not stretch the others' spans
        rate = 0.0
        for tid in range(THREADS):
            mine = [s for s in samples if s[0] == tid]
            if mine:
                rate += len(mine) * RECORDS / (max(s[3] for s in mine) - min(s[1] for s in mine))
        return {
            "ops": [s[4] for s in samples],
            "op_ms": [1000 * (tv - t0) for _, t0, _, tv, _ in samples],
            "ack_ms": [1000 * (ta - t0) for _, t0, ta, _, _ in samples],
            "throughput": rate,
        }

    # ------------------------------------------------------------ results

    def check(self) -> None:
        """Each stream's confirmed offset equals the records appended to it."""
        for sid, n in self.appended.items():
            got = self.fe.catalog.describe_stream(sid).confirmed_offset
            if got != n:
                self.failures.append(f"stream {sid}: confirmed_offset {got} != appended {n}")

    def op_p50(self, res: dict) -> float:
        return stats.percentile(res["op_ms"], 50)

    def detail(self, res: dict) -> dict:
        out = {
            "append_ack_ms_p50": (stats.percentile(res["ack_ms"], 50), "ms"),
            "append_visible_ms_p50": (stats.percentile(res["op_ms"], 50), "ms"),
            "append_rps": (res["throughput"], "records/s"),
        }
        if len(res["op_ms"]) >= 100:
            out["append_visible_ms_p90"] = (stats.percentile(res["op_ms"], 90), "ms")
        return out

    def layers(self, rec: Recorder, res: dict) -> dict[str, float]:
        ops = set(res["ops"])
        n = len(ops)
        spans = rec.by_name(ops)
        selfs = rec.self_by_name(ops)

        def ms(name: str) -> float:
            d = [1000 * s.dur for s in spans.get(name, [])]
            return stats.median(d) if d else 0.0

        def calls(name: str) -> float:
            return len(spans.get(name, [])) / n

        roots = rec.uncovered(ops)
        unaccounted = sum(u for u, _ in roots) / sum(d for _, d in roots)
        if unaccounted > MAX_UNACCOUNTED:
            self.failures.append(
                f"traced calls leave {unaccounted:.1%} of the append cycles' wall time uncovered"
            )
        out = {
            "trace.unaccounted_frac": unaccounted,
            "catalog.create_stream_ms": stats.median(self.create_ms),
            "client.append_ms": ms("client.append"),
            "log.append_self_ms": stats.median([1000 * v for v in selfs["log.append"]]),
            "log.write_stamped_ms": ms("log.write_stamped"),
            "log.fetch_plan_ms": ms("log.fetch"),
            "log.fetch_action_ms": ms("log.fetch_action"),
            "streaming.poll_fetch_ms": ms("streaming.poll_fetch"),
            # confirm-offset reads inside poll_fetch per op: 1.0 means the
            # window was visible on the first look
            "streaming.poll_fetch_polls_per_op": calls("log.confirmed_offset"),
        }
        for c in ("reserve_offsets", "confirm_offset", "describe_stream"):
            out[f"catalog.{c}_ms"] = ms(f"catalog.{c}")
            out[f"catalog.{c}_calls_per_op"] = calls(f"catalog.{c}")
        jobs = stages = 0
        for op in ops:
            j, s = spark_counts(self.spark, op)
            jobs += j
            stages += s
        out["spark.jobs_per_append"] = jobs / n
        out["spark.stages_per_append"] = stages / n
        files = 0
        stored = 0
        written = [sid for sid, c in self.appended.items() if c]
        for sid in written:
            d = os.path.join(self.root, "records", f"stream_id={sid}")
            for dirpath, _, names in os.walk(d):
                for f in names:
                    if f.endswith(".parquet"):
                        files += 1
                        stored += os.path.getsize(os.path.join(dirpath, f))
        out["log.files_per_stream"] = files / max(1, len(written))
        out["log.bytes_stored_per_payload_byte"] = stored / max(
            1, sum(self.appended[s] for s in written) * PAYLOAD
        )
        return out

