"""Batch workload: paper-core query keys through ``__spark_entry__``.

One operation is one key: ``queries()[key](spark, sf_dir)`` (build)
followed by a noop-sink write (execute), one key at a time. A run makes
a fixed number of passes over the key set, sized from ``--seconds``; the
seed fixes the key order, which matters because the persist ring carries
frames from one key to the next.
"""

from __future__ import annotations

import importlib.util
import math
import random
import sys
import time
from collections import defaultdict
from statistics import median

import layers

# Paper-core keys (relational, TPC-H, dashboard, CDC, time-window and
# feature families), one or two per family, each about half a second or
# less at sf0.01, so that a pass takes 3-4 s. Per-query fixed cost
# (build, Catalyst, job and task scheduling) dominates every one of them.
CORE_KEYS = (
    "q1_pricing_summary",
    "tpch_q3",
    "tpch_q6",
    "a5_a8_tumbling_stats",
    "j6_semi_join",
    "o2_top5_parts",
    "p7_numeric_projection",
    "s10_debezium_unwrap",
    "t6_late_tagging",
    "f_datetime_buckets",
)
SF = "sf0.01"
# The first pass compiles every plan; the JIT then keeps warming for
# a minute or more, passes falling from 3-3.5 s to 2-2.5 s on 4 vCPUs,
# steeply over the first few passes. WARM_PASSES untimed passes take a
# run past the steep part, whose slope varies from run to run.
WARM_PASSES = 3
# One timed pass per PASS_S seconds of --seconds (a warm pass takes
# about 2 s). The pass count follows --seconds alone, not the clock, so
# that a slower machine samples the same work.
PASS_S = 2.0


def load_oracle_check(root):
    """``scripts/oracle_check.py`` as a module, for its result hash.

    The script reads ``sys.argv`` at import, so it is imported with an
    argv of its own."""
    path = root / "scripts" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, [str(path)]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


class BatchCore:
    name = "batch_core"

    def __init__(self, ctx):
        import json

        import __spark_entry__ as entry

        self.ctx = ctx
        self.queries = entry.queries()
        self.keys = list(CORE_KEYS)
        random.Random(ctx.seed).shuffle(self.keys)
        self.sf_dir = str(ctx.bench / "data" / SF)
        self.oracle = json.loads((ctx.bench / "oracle.json").read_text())[SF]
        self.vhash = load_oracle_check(ctx.root).vhash

    def inputs(self) -> dict:
        return {"sf": SF, "keys": len(self.keys), "order": self.keys}

    def warm_up(self) -> None:
        """WARM_PASSES untimed passes at the measured scale. At sf0.001 the
        adaptive planner picks other join strategies, so a pass there
        leaves the first timed pass compiling new code. A key that fails
        here fails again, and is counted, when timed."""
        for _ in range(WARM_PASSES):
            for key in self.keys:
                self._run_key(key, None)

    def _run_key(self, key: str, tracer) -> dict:
        spark = self.ctx.spark
        op = {"key": key, "ok": True, "traced": tracer is not None}
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            df = self.queries[key](spark, self.sf_dir)
            t1, w1 = time.perf_counter(), time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a failing key is a failed op
            op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300],
                      ms=1000.0 * (time.perf_counter() - t0))
            return op
        t2, w2 = time.perf_counter(), time.time()
        op.update(ms=1000.0 * (t2 - t0), build_ms=1000.0 * (t1 - t0),
                  exec_ms=1000.0 * (t2 - t1))
        if tracer is not None:
            sid = tracer.add("op.key", w0, w2, self.ctx.run_span, key=key)
            tracer.add("entry.build", w0, w1, sid)
            tracer.add("exec", w1, w2, sid)
            op.update(windows=((w0, w1), (w1, w2)),
                      catalyst=layers.catalyst_ms(df._jdf, force_plan=True),
                      persisted_rdds=layers.persisted_rdds(spark))
        return op

    def units(self, seconds: float) -> int:
        return max(2, math.ceil(seconds / PASS_S))

    def measure(self, passes: int, tracer=None) -> dict:
        """With a tracer, every other key run is traced, alternating from
        pass to pass over an even number of passes, so that each key is
        traced in half its passes and both halves see the same warm-up."""
        if tracer is not None:
            passes += passes % 2
        return {"ops": [self._run_key(key, tracer if (p + i) % 2 == 0 else None)
                        for p in range(passes) for i, key in enumerate(self.keys)]}

    def summary(self, result: dict) -> dict:
        """sweep_s: the sum over keys of each key's median wall time."""
        by_key = defaultdict(list)
        for op in result["ops"]:
            by_key[op["key"]].append(op["ms"] / 1000.0)
        key_s = {k: median(v) for k, v in by_key.items()}
        n = len(self.keys)
        pass_s = [sum(op["ms"] for op in result["ops"][i:i + n]) / 1000.0
                  for i in range(0, len(result["ops"]), n)]
        return {"sweep_s": sum(key_s.values()), "pass_s": pass_s, "key_s": key_s}

    def check(self, result: dict) -> dict:
        """Hash each key's result at the measured scale the way
        ``scripts/oracle_check.py`` does and compare it with the stored
        DuckDB oracle hash; every run of a key that fails counts failed."""
        bad = {}
        for key in self.keys:
            try:
                df = self.queries[key](self.ctx.spark, self.sf_dir)
                got = self.vhash(df.columns, [tuple(r) for r in df.collect()])
                if got != self.oracle[key]:
                    bad[key] = f"hash {got} != oracle {self.oracle[key]}"
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                bad[key] = f"{type(exc).__name__}: {exc}"[:300]
        for op in result["ops"]:
            if op["key"] in bad:
                op["ok"] = False
        return {"keys_checked": len(self.keys), "mismatched": bad}

    def layer_ops(self, result: dict, jobs: list[dict]) -> list[dict]:
        """Per-op layer numbers of a traced measurement."""
        out = []
        for op in result["ops"]:
            if "windows" not in op:
                continue
            (b0, b1), (e0, e1) = op["windows"]
            build, run = layers.jobs_in(jobs, b0, b1), layers.jobs_in(jobs, e0, e1)
            out.append({
                "entry.build_ms": op["build_ms"],
                "entry.build_jobs": build.get("jobs", 0),
                "catalyst.analysis_ms": op["catalyst"]["analysis"],
                "catalyst.optimization_ms": op["catalyst"]["optimization"],
                "catalyst.planning_ms": op["catalyst"]["planning"],
                "exec.run_ms": op["exec_ms"],
                "exec.jobs": run.get("jobs", 0),
                "exec.stages": run.get("stages", 0),
                "exec.tasks": run.get("tasks", 0),
                "exec.shuffle_read_bytes": run.get("shuffle_read_bytes", 0),
                "exec.shuffle_write_bytes": run.get("shuffle_write_bytes", 0),
                "exec.spill_bytes": run.get("spill_bytes", 0),
                "sources.input_rows": run.get("input_rows", 0),
                "catalog.persisted_rdds": op["persisted_rdds"],
                "streaming.state_rows": 0,
                "streaming.state_bytes": 0,
            })
        return out
