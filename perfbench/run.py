"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload append-fanout --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository.  One process: it
starts a Spark session through ``elastic_stream_spark.get_spark``, sets
the workload up ``SETUP_REPS`` times (each into a fresh directory, its
inputs written untimed beforehand; the last one is used), runs an
untimed warm-up, measures for ``--seconds`` and checks every output.
``setup_s`` is the time from process start to the first timed
operation, with the workload's set-up counted once, at its median over
the repetitions: the first repetition also pays the process's cold
start of the code it runs, and the median leaves that one out.
Everything it writes goes under ``.perfbench_work/`` in the checkout
and is removed at the end.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` measures three times: untraced, with the span recorder
installed (``perfbench/trace.py``), untraced again; it reports the
per-layer metrics of the traced window plus ``trace_overhead_frac``,
its median operation latency over the mean of the untraced ones,
minus 1.  Per-layer metrics of layers a workload
does not call read 0.

Lines before the last go to humans: the host context (CPU steal,
``nproc``, ``SPARK_GRAFT_CPUS``, seed) and the workload's own named
figures.  The last line is the result object.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()  # process start, as near as this file sees it

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "append-fanout": "perfbench.append_fanout",
    "query-mix": "perfbench.query_mix",
}
SETUP_REPS = 3


def _env(work: str) -> None:
    """Keep every scratch file of the run inside ``work`` and size the
    local Spark to this host."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def _clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM that py4j launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to a hard stop
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _env(work)
    sys.path[:0] = [ROOT]
    try:
        # fails here, before any JVM, when the engine is not in the checkout
        from bench import _steal_jiffies
        from elastic_stream_spark.session import get_spark
    except ImportError:
        _clean(work)
        raise

    from perfbench import stats
    from perfbench.trace import Recorder

    module = importlib.import_module(WORKLOADS[args.workload])

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t0
    started_s = time.perf_counter() - T_START
    try:
        wl = module.Workload(spark, args.seed, work)
        setups = []
        for rep in range(SETUP_REPS):
            wl.inputs(rep)  # the benchmark's own input files, untimed
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0

        steal0, t_meas = _steal_jiffies(), time.time()
        res = wl.measure(args.seconds, None)
        if args.trace:
            rec = Recorder()
            rec.install()
            try:
                traced = wl.measure(args.seconds, rec)
            finally:
                rec.uninstall()
            # untraced windows on both sides, so drift during the run
            # (caches and the JIT still warming) does not read as overhead
            after = wl.measure(args.seconds, None)
            untraced = (wl.op_p50(res) + wl.op_p50(after)) / 2
        steal1, t_end = _steal_jiffies(), time.time()
        # runnable tasks on the machine, this run's included: other
        # tenants' work shows as load well above SPARK_GRAFT_CPUS
        load = os.getloadavg()[0]
        wl.check()

        if args.trace:
            metrics = {
                "session.get_spark_s": session_s,
                "session.warmup_s": warm_s,
                "trace_overhead_frac": wl.op_p50(traced) / untraced - 1,
                **wl.layers(rec, traced),
            }
            declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            metrics = {
                # process start to the first timed operation, counting
                # the repeatable set-up once, at its median
                "setup_s": started_s + stats.median(setups) + warm_s,
                "op_ms_p50": wl.op_p50(res),
                "throughput_per_s": res["throughput"],
            }
            declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        unknown = metrics.keys() - declared.keys()
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "host_steal": (
                (steal1 - steal0) / 100.0 / (t_end - t_meas)
                if steal0 is not None and steal1 is not None
                else None
            ),
            "loadavg_1m": load,
            "setup_samples_s": setups,
            "peak_rss_mb": stats.peak_rss_mb(),
            "session_s": session_s,
            "warmup_s": warm_s,
        }
        detail = wl.detail(res)
    finally:
        _stop(spark)
        _clean(work)

    for msg in wl.failures:
        print(f"FAILED {msg}", file=sys.stderr)
    print("# context " + json.dumps(context))
    print("# detail " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in detail.items()}))
    result = {
        "correct": not wl.failures,
        "attempted": max(1, wl.attempted),
        "failed": len(wl.failures),
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
