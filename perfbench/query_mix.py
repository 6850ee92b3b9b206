"""query-mix: registered queries, one per operator family, plus one
run of the streaming pipeline.

Closed loop, one thread.  The tables are generated from the seed at
``SF`` (see ``datagen``); set-up loads them and creates the pipeline's
streams.  The untimed warm-up runs ``WARM_PASSES`` passes over every
operation; the first builds the session memos the mix touches
(``bench.WARM_MEMOS``).  Then whole passes run in seed-shuffled order
until the window is spent and at least ``MIN_PASSES`` are done.

Every query is forced the way ``bench._force_count`` forces it (all
output columns hashed); its ``(rows, hash)`` must be the same on every
pass and its row count must equal the DuckDB oracle's on the same
tables.  The pipeline operation (``PIPELINE``) bulk-loads ``WINDOW`` new
records into each source stream (untimed), then times making them
visible and draining them into the output stream with one
``availableNow`` run of a new streaming query (query start, one
microbatch, stop; see ``Pipeline.drain``).  At the end the output
stream must hold every source record exactly once.
"""

from __future__ import annotations

import gc
import os
import random
import time
import traceback
from contextlib import nullcontext

from perfbench import datagen, stats
from perfbench.pipeline import SOURCES, Pipeline
from perfbench.trace import Recorder, job_group, spark_counts

SF = 0.001
# a pass took 5.0, 4.9, 4.2, 3.7, 3.3, 3.1, 3.1, 2.9, 2.9, 3.0 s after a
# single warm pass (4 cores): timing the first passes after one warm pass
# measured how far the JVM had warmed, not the mix.  More warm passes
# are steadier still, but on a busy host a pass takes twice as long and
# every run must fit the benchmark's time budget.
WARM_PASSES = 3
MIN_PASSES = 2
WINDOW = 100  # records per source stream per pipeline operation
PIPELINE = "stream_pipeline"
QUERIES = [  # one per operator family
    "q1_pricing_summary",
    "list_resources",
    "dedup_exact",
    "sim_topk_bruteforce",
    "text_token_stats",
    "rolling_revenue_7d",
    "column_profile",
]
OPS = QUERIES + [PIPELINE]


def force_hash(df) -> tuple[int, int]:
    """``bench._force_count``'s action — one aggregate hashing every
    output column of every row — returning the hash sum with the count."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def has_map(dt) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    cols = [
        F.to_json(F.col(f.name)) if has_map(f.dataType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.hash(*cols)).alias("h")).collect()[0]
    return row["n"], row["h"]


def oracle_rows(sf_dir: str, queries: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle SQL over the parquet
    tables in ``sf_dir``."""
    import duckdb

    from elastic_stream_spark.operators import all_oracles
    from elastic_stream_spark.sources.envelope import TABLES

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in queries:
            sql = oracles[q].strip().rstrip(";")
            out[q] = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle_q").fetchone()[0]
        return out
    finally:
        con.close()


class Workload:
    name = "query-mix"

    def __init__(self, spark, seed: int, workdir: str):
        from elastic_stream_spark.operators import all_queries

        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.attempted = 0
        self.failures: list[str] = []
        self.qs = all_queries()
        self.results: dict[str, set[tuple[int, int]]] = {q: set() for q in OPS}
        self.sources_s: list[float] = []
        self.memos_s = 0.0
        # traced op id -> Spark jobs, sink-call op ids, progress of its drain
        self.pipe_runs: dict[str, tuple[int, list[str], list]] = {}

    def inputs(self, rep: int) -> None:
        """Generate the tables into a fresh directory (a directory the
        engine has not loaded before, so its table handles are cold)."""
        self.sf_dir = os.path.join(self.workdir, f"tables-{rep}")
        datagen.write(self.sf_dir, SF, self.seed)

    def setup(self, rep: int) -> None:
        """Load every table handle and row count, and create the
        pipeline's streams."""
        from elastic_stream_spark.sources.envelope import TABLES, table_rows

        t0 = time.perf_counter()
        for t in TABLES:
            table_rows(self.spark, self.sf_dir, t)
        self.sources_s.append(time.perf_counter() - t0)
        self.pipe = Pipeline(self.spark, self.seed, os.path.join(self.workdir, f"pipeline-{rep}"))

    def _run(self, name: str, rec: Recorder | None = None, op_id: str = "") -> tuple[tuple[int, int], float]:
        """One forced evaluation: ``((rows, hash), seconds)``.  Only the
        evaluation is timed, as in ``bench.py``."""
        from elastic_stream_spark.functions.materialize import unpersist_materialized

        if name == PIPELINE:
            return self._pipeline(rec, op_id)
        # bench.py's between-sample hygiene: drop cached intermediates so
        # every sample builds the query rather than hitting a cache
        gc.collect()
        self.spark.catalog.clearCache()
        unpersist_materialized(self.spark)
        t0 = time.perf_counter()
        if rec is None:
            got = force_hash(self.qs[name](self.spark, self.sf_dir))
        else:
            with job_group(self.spark, op_id), rec.span(f"query.{name}", op=op_id):
                got = force_hash(self.qs[name](self.spark, self.sf_dir))
        return got, time.perf_counter() - t0

    def _pipeline(self, rec: Recorder | None, op_id: str) -> tuple[tuple[int, int], float]:
        p = self.pipe
        p.load(WINDOW)
        first = len(p.batch_ops)
        p.rec = rec
        t0 = time.perf_counter()
        try:
            with rec.span(f"query.{PIPELINE}", op=op_id) if rec else nullcontext():
                want = p.release()
                query = p.drain()
        finally:
            p.rec = None
        dt = time.perf_counter() - t0
        if p.output() != want:
            raise RuntimeError(f"output stream holds {p.output()} records after the drain, want {want}")
        if rec:
            jobs = spark_counts(self.spark, str(query.runId))[0]
            self.pipe_runs[op_id] = (jobs, p.batch_ops[first:], list(query.recentProgress))
        return (SOURCES * WINDOW, 0), dt

    def _pass(self, order: list[str], rec: Recorder | None, tag: str) -> dict[str, float]:
        times = {}
        for name in order:
            self.attempted += 1
            op_id = f"{tag}:{name}"
            try:
                got, times[name] = self._run(name, rec, op_id)
            except Exception as e:  # noqa: BLE001 - counted, never silent
                traceback.print_exc()
                self.failures.append(f"{op_id}: {type(e).__name__}: {e}")
                continue
            self.results[name].add(got)
        return times

    def warm(self) -> None:
        """Untimed: ``WARM_PASSES`` passes over every operation.  The
        first runs the members of ``bench.WARM_MEMOS`` first (their first
        run builds the session memos they serve from)."""
        from bench import WARM_MEMOS

        memos = [q for q in WARM_MEMOS if q in QUERIES]
        times = self._pass(memos + [q for q in OPS if q not in memos], None, "warm0")
        self.memos_s = sum(times.get(q, 0.0) for q in memos)
        for k in range(1, WARM_PASSES):
            self._pass(OPS, None, f"warm{k}")

    def measure(self, seconds: float, rec: Recorder | None) -> dict:
        rng = random.Random(self.seed + (1 << 20) * (rec is not None))
        passes: list[dict[str, float]] = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds or len(passes) < MIN_PASSES:
            order = list(OPS)
            rng.shuffle(order)
            passes.append(self._pass(order, rec, f"{'t' if rec else 'u'}{len(passes)}"))
        # a pass as the sum of each operation's median over the passes:
        # one slow sample of one operation does not move it
        pass_s = sum(stats.median([p[n] for p in passes if n in p]) for n in OPS)
        return {
            "passes": passes,
            "tag": "t" if rec else "u",
            "op_ms": [1000 * pass_s],
            "throughput": len(OPS) / pass_s,
        }

    def check(self) -> None:
        oracle = oracle_rows(self.sf_dir, QUERIES)
        for name, seen in self.results.items():
            if len(seen) != 1:
                self.failures.append(f"{name}: (rows, hash) differ across passes: {sorted(seen)}")
                continue
            (n, _), = seen
            if name in oracle and n != oracle[name]:
                self.failures.append(f"{name}: {n} rows, oracle {oracle[name]}")
        msg = self.pipe.check()
        if msg:
            self.failures.append(f"{PIPELINE}: {msg}")

    def op_p50(self, res: dict) -> float:
        return res["op_ms"][0]

    def detail(self, res: dict) -> dict:
        return {"query_mix_s": (res["op_ms"][0] / 1000, "s")}

    def layers(self, rec: Recorder, res: dict) -> dict[str, float]:
        out = {
            "sources.warm_s": stats.median(self.sources_s),
            "operators.warm_memos_s": self.memos_s,
        }
        family: dict[str, float] = {}
        for name in OPS:
            ts = [p[name] for p in res["passes"] if name in p]
            out[f"query.{name}.s"] = med = stats.median(ts) if ts else 0.0
            if name != PIPELINE:
                mod = self.qs[name].__module__.rsplit(".", 1)[-1]
                family[mod] = family.get(mod, 0.0) + med
        for mod, s in family.items():
            out[f"operators.{mod}.s"] = s
        jobs = stages = pipe_jobs = 0
        batch_ops: list[str] = []
        progress: list = []
        for k, p in enumerate(res["passes"]):
            for name in p:
                op_id = f"{res['tag']}{k}:{name}"
                if name == PIPELINE:
                    j, b, pr = self.pipe_runs[op_id]
                    pipe_jobs += j
                    batch_ops += b
                    progress += pr
                else:
                    j, st = spark_counts(self.spark, op_id)
                    stages += st
                jobs += j
        out["spark.jobs_per_pass"] = jobs / len(res["passes"])
        out["spark.stages_per_pass"] = stages / len(res["passes"])
        out.update(self.pipe.layers(rec, batch_ops, progress, pipe_jobs))
        return out
