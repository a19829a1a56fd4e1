"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (each a closed loop from one process: one query key or one
micro-batch at a time, on one ``local[nproc]`` session):

- ``batch_core``: paper-core query keys at sf0.01, noop sink.
- ``stream_supplier_stats``: generator orders replayed as files through
  the late tagger and the supplier-stats dual sink.
- ``stream_linucb``: a feedback replay through the streaming LinUCB
  trainer into the model sink.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other operation, prints the per-layer metrics, reports the tracing
overhead (traced against untraced operations, key by key) and writes
the spans to ``.perfbench/trace-<workload>-<seed>.json``. An earlier stdout line
carries the full detail; the last line is the result object. See
``perfbench/layers.json`` for which end-to-end metric each layer metric
should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path
from statistics import median
from types import SimpleNamespace

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("batch_core", "stream_supplier_stats", "stream_linucb")
PER_LAYER = (
    "session.start_s", "session.driver_rss_mb",
    "entry.build_ms", "entry.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.run_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "sources.input_rows", "catalog.persisted_rdds",
    "streaming.state_rows", "streaming.state_bytes",
)
UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB", "_bytes": "bytes"}


def unit(name: str) -> str:
    return next((u for sfx, u in UNITS.items() if name.endswith(sfx)), "count")


def size_for_box() -> dict:
    """Parallelism and driver memory from this machine, not the defaults
    (``local[32]`` and a 90 GB driver)."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"cpus": cpus, "driver_mem": f"{max(1, min(4, int(ram_gb // 4)))}g"}


def configure_env(work: Path, box: dict) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(box["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = box["driver_mem"]
    # Python workers import the program's UDF modules by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    sys.path.insert(1, str(ROOT))


def spark_conf(work: Path, traced: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # The status store keeps only the newest 1000 jobs/stages by default.
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def noise_meter(spark, bench_mod, label: str) -> None:
    bench_mod._mark_steal(label)
    bench_mod._run_calibration(spark, 0, len(bench_mod._state["calibration"]))


def e2e(wl, result: dict) -> dict:
    """End-to-end figures of one measurement, with the sample count and
    the highest percentile the count supports."""
    from summary import latency_summary

    lat = latency_summary([op["ms"] for op in result["ops"] if op["ok"]])
    out = {**wl.summary(result), "op_ms.p50": lat["p50"], "op_ms.n": lat["n"],
           "op_ms.tail": lat["tail"]}
    if lat["tail"]:
        out[f"op_ms.{lat['tail']}"] = lat[lat["tail"]]
    return out


def trace_overhead(ops: list[dict]) -> dict:
    """Traced against untraced operations of the same run (the workloads
    interleave the two): the sum over keys of each key's median, so that
    both sides cover the same keys (a stream has one key)."""
    groups = defaultdict(lambda: {True: [], False: []})
    for op in ops:
        if op["ok"] and op["traced"] is not None:
            groups[op.get("key")][op["traced"]].append(op["ms"])
    both = [g for g in groups.values() if g[True] and g[False]]
    if not both:
        return {}
    traced = sum(median(g[True]) for g in both)
    untraced = sum(median(g[False]) for g in both)
    return {"traced_ms": traced, "untraced_ms": untraced,
            "pct": 100.0 * (traced / untraced - 1.0)}


def aggregate_layers(layer_ops: list[dict]) -> dict:
    """Mean per operation of each layer number (Spark reports many of the
    times in whole milliseconds, where a median would often repeat)."""
    keys = sorted({k for op in layer_ops for k in op})
    return {k: sum(vals) / len(vals)
            for k in keys for vals in [[op[k] for op in layer_ops if k in op]]}


def make_workload(name: str, ctx):
    if name == "batch_core":
        from batch import BatchCore

        return BatchCore(ctx)
    from stream import LinUCB, SupplierStats

    return {"stream_supplier_stats": SupplierStats, "stream_linucb": LinUCB}[name](ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / "streaming_demos_spark").is_dir():
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2

    t_setup = time.perf_counter()
    box = size_for_box()
    out_dir = ROOT / ".perfbench"
    work = out_dir / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, box)
    from streaming_demos_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=spark_conf(work, bool(args.trace)))
    session_s = time.perf_counter() - t_setup
    try:
        import bench as bench_mod
        import pyspark
        from summary import tally
        from spans import Tracer, self_ms_by_name

        ctx = SimpleNamespace(spark=spark, root=ROOT, bench=BENCH, work=work,
                              seed=args.seed, tracer=None, run_span=None)
        t_import = time.perf_counter()
        if args.workload == "batch_core":
            import __spark_entry__  # noqa: F401 - the import is set-up cost
        else:
            import streaming_demos_spark.streaming.supplier_stats  # noqa: F401
        import_s = time.perf_counter() - t_import

        t_inputs = time.perf_counter()
        wl = make_workload(args.workload, ctx)
        inputs_s = time.perf_counter() - t_inputs

        t_warm = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t_warm
        setup_s = session_s + import_s + warm_s

        bench_mod._run_calibration(spark, -1, -1)  # primes the plan, discarded
        bench_mod._state["calibration"].clear()
        noise_meter(spark, bench_mod, "measure_start")
        t_measure = time.perf_counter()
        units = wl.units(args.seconds)
        if args.trace:
            import layers

            ctx.tracer = Tracer()
            watermark = layers.last_job_id(spark)
            with ctx.tracer.span("run") as ctx.run_span:
                result = wl.measure(units, ctx.tracer)
            noise_meter(spark, bench_mod, "measure_end")
            layer_ops = wl.layer_ops(result, layers.jobs_since(spark, watermark))
        else:
            result = wl.measure(units)
            noise_meter(spark, bench_mod, "measure_end")
        checks = wl.check(result)
        measure_check_s = time.perf_counter() - t_measure

        counts = tally(result["ops"])
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "work_units": units, "inputs": wl.inputs(),
            "box": {**box, "spark": pyspark.__version__,
                    **bench_mod._noise_summary()},
            "setup": {"setup_s": setup_s, "session_s": session_s,
                      "import_s": import_s, "warm_up_s": warm_s,
                      "inputs_s": inputs_s, "measure_check_s": measure_check_s},
            **counts, "checks": checks, "e2e": e2e(wl, result),
            "metric_units": {"setup_s": "s", "sweep_s": "s", "op_ms.*": "ms",
                      "rows_per_s": "1/s", "error_rate": "failed/attempted"},
        }
        # op_ms.p50 stays in the detail: on batch_core the median of 30 key
        # runs falls between keys of different cost and spread 23% across
        # seeds on 4 shared vCPUs, against 16% for sweep_s.
        metrics = {"setup_s": setup_s, "sweep_s": detail["e2e"]["sweep_s"]}
        if args.trace:
            detail["trace_overhead"] = trace_overhead(result["ops"])
            per_layer = {"session.start_s": session_s,
                         "session.driver_rss_mb": layers.driver_rss_mb(spark),
                         **aggregate_layers(layer_ops)}
            detail["layers"] = per_layer
            detail["self_ms_by_name"] = self_ms_by_name(ctx.tracer.spans)
            metrics = {k: per_layer.get(k, 0) for k in PER_LAYER}
            out_dir.mkdir(exist_ok=True)
            ctx.tracer.dump(str(out_dir / f"trace-{args.workload}-{args.seed}.json"),
                            detail=detail)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
