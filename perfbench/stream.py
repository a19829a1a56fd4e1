"""Stream workloads: file replays through the micro-batch engine.

Inputs are written one parquet file per micro-batch, with modification
times increasing in arrival order (the file source replays files in
modification-time order; files written in parallel would otherwise be
replayed out of order and tag rows late that a batch run does not).
A replay is one query over the workload's files with
``maxFilesPerTrigger=1`` and ``trigger(availableNow=True)``, run from
query start to termination. A run makes a fixed number of replays,
sized from ``--seconds`` (see ``batch.PASS_S`` for why not by the
clock); one operation is one micro-batch. A traced replay traces the
odd-numbered batches and leaves the even ones untraced; batch 0, which
also starts the query, counts as neither when the two are compared.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from datetime import datetime, timezone
from statistics import median

import layers
import numpy as np

MTIME_BASE = 1_000_000
AWAIT_S = 150


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _in_arrival_order(paths, dst_dir) -> list[str]:
    """Move ``paths`` into ``dst_dir`` as b00000.parquet, b00001.parquet,
    ... with modification times increasing in list order."""
    os.makedirs(dst_dir, exist_ok=True)
    out = []
    for i, path in enumerate(paths):
        dst = os.path.join(dst_dir, f"b{i:05d}.parquet")
        shutil.move(path, dst)
        os.utime(dst, (MTIME_BASE + i, MTIME_BASE + i))
        out.append(dst)
    return out


def _progress_listener(events: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def _traced(batch_id: int, tracer) -> bool:
    return tracer is not None and batch_id % 2 == 1


class _Replays:
    """Shared replay loop; subclasses define inputs, the query and checks."""

    name = ""
    # One replay per REPLAY_S seconds of --seconds (a warm replay of the
    # supplier-stats files takes 5-6 s); the first timed replay may still
    # run slower while the JIT warms, so a run makes at least three and
    # reports the median.
    REPLAY_S = 4.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx.work / self.name
        self.n_replays = 0

    def _start(self, src: str, chk: str, sink_log: dict, tracer):
        raise NotImplementedError

    def _replay(self, src: str, tracer=None) -> dict:
        spark = self.ctx.spark
        chk = str(self.work / f"chk{self.n_replays}")
        self.n_replays += 1
        sink_log: dict = {}
        events: list = []
        listener = None
        if tracer is not None:
            listener = _progress_listener(events)
            spark.streams.addListener(listener)
        w0, t0 = time.time(), time.perf_counter()
        error = None
        try:
            q = self._start(src, chk, sink_log, tracer)
            w_built, build_ms = time.time(), 1000.0 * (time.perf_counter() - t0)
            if not q.awaitTermination(AWAIT_S):
                q.stop()
                error = f"replay did not finish in {AWAIT_S}s"
            elif q.exception() is not None:
                error = str(q.exception())[:300]
            progress = [json.loads(p.json) for p in q.recentProgress]
        except Exception as exc:  # noqa: BLE001 - a failing replay fails its batches
            error, progress, w_built, build_ms = f"{type(exc).__name__}: {exc}"[:300], [], w0, 0.0
        wall = time.perf_counter() - t0
        w1 = time.time()
        if listener is not None:
            deadline = time.time() + 10
            while len(events) < len(progress) and time.time() < deadline:
                time.sleep(0.05)
            spark.streams.removeListener(listener)
        progress = [p for p in progress if p["numInputRows"] > 0]
        if error:
            ops = [{"ok": False, "ms": float("nan"), "error": error, "traced": None}
                   for _ in self.files]
        else:
            ops = [{"ok": True, "ms": float(p["durationMs"]["triggerExecution"]),
                    "rows": p["numInputRows"],
                    "traced": _traced(p["batchId"], tracer) if p["batchId"] else None}
                   for p in progress]
        return {"wall_s": wall, "build_ms": build_ms, "window": (w0, w_built, w1),
                "progress": progress, "ops": ops, "sink_log": sink_log,
                "events": events, "error": error, "parent": self.ctx.run_span,
                "persisted_rdds": layers.persisted_rdds(spark) if tracer else None}

    def warm_up(self) -> None:
        """Two untimed replays of the timed files: the first compiles the
        pipeline, and the second still runs 10-20% slower than later ones
        while the JIT warms. A pipeline that fails here fails again, and
        is counted, when timed."""
        for _ in range(2):
            self._replay(self.src)

    def units(self, seconds: float) -> int:
        return max(3, math.ceil(seconds / self.REPLAY_S))

    def measure(self, replays: int, tracer=None) -> dict:
        """With a tracer, odd-numbered batches are traced (see above)."""
        done = [self._replay(self.src, tracer) for _ in range(replays)]
        return {"ops": [op for r in done for op in r["ops"]], "replays": done}

    def summary(self, result: dict) -> dict:
        """sweep_s: the median replay, query start to termination."""
        walls = [r["wall_s"] for r in result["replays"]]
        rows = sum(op.get("rows", 0) for op in result["ops"])
        return {"sweep_s": median(walls), "rows_per_s": rows / sum(walls),
                "batch_ms": [[op["ms"] for op in r["ops"]] for r in result["replays"]]}

    def _check_replay(self, r: dict) -> str | None:
        return None

    def _check_batch(self, r: dict, p: dict) -> str | None:
        raise NotImplementedError

    def check(self, result: dict) -> dict:
        bad = {}
        for i, r in enumerate(result["replays"]):
            why = r["error"] or self._check_replay(r)
            if not why and len(r["progress"]) != len(self.files):
                why = f"{len(r['progress'])} batches for {len(self.files)} files"
            if why:
                bad[f"replay{i}"] = why
                for op in r["ops"]:
                    op["ok"] = False
                continue
            for op, p in zip(r["ops"], r["progress"]):
                why = self._check_batch(r, p)
                if why:
                    bad[f"replay{i}.batch{p['batchId']}"] = why
                    op["ok"] = False
        return {"failed_checks": bad}

    def layer_ops(self, result: dict, jobs: list[dict]) -> list[dict]:
        """Per-micro-batch layer numbers of the traced batches, from the
        listener's progress events, the sink callbacks and the status store.
        Every batch gets a span."""
        tracer, out = self.ctx.tracer, []
        for r in result["replays"]:
            if r["error"]:
                continue
            w0, w_built, w1 = r["window"]
            rid = tracer.add("op.replay", w0, w1, r["parent"])
            tracer.add("entry.build", w0, w_built, rid)
            build = layers.jobs_in(jobs, w0, w_built)
            events = [p for p in r["events"] if p["numInputRows"] > 0]
            build_op = {"entry.build_ms": r["build_ms"],
                        "entry.build_jobs": build.get("jobs", 0)}
            for p in events or r["progress"]:
                d, bid = p["durationMs"], p["batchId"]
                start = _epoch(p["timestamp"])
                end = start + d["triggerExecution"] / 1000.0
                mb = tracer.add("streaming.micro_batch", start, end, rid, batch=bid)
                sinks = r["sink_log"].get(bid, {})
                for name, (a, b) in sinks.get("spans", {}).items():
                    tracer.add(name, a, b, mb)
                if not _traced(bid, tracer):
                    continue
                run = layers.jobs_in(jobs, start, end)
                state = (p.get("stateOperators") or [{}])[0]
                cat = sinks.get("catalyst", {})
                op = {
                    "catalyst.analysis_ms": cat.get("analysis", 0.0),
                    "catalyst.optimization_ms": cat.get("optimization", 0.0),
                    "catalyst.planning_ms": cat.get("planning", 0.0),
                    "exec.run_ms": float(d.get("addBatch", 0)),
                    "exec.jobs": run.get("jobs", 0),
                    "exec.stages": run.get("stages", 0),
                    "exec.tasks": run.get("tasks", 0),
                    "exec.shuffle_read_bytes": run.get("shuffle_read_bytes", 0),
                    "exec.shuffle_write_bytes": run.get("shuffle_write_bytes", 0),
                    "exec.spill_bytes": run.get("spill_bytes", 0),
                    "sources.input_rows": p["numInputRows"],
                    "catalog.persisted_rdds": r["persisted_rdds"],
                    "streaming.state_rows": state.get("numRowsTotal", 0),
                    "streaming.state_bytes": state.get("memoryUsedBytes", 0),
                    "sources.latest_offset_ms": float(d.get("latestOffset", 0)),
                    "sources.get_batch_ms": float(d.get("getBatch", 0)),
                    "streaming.add_batch_ms": float(d.get("addBatch", 0)),
                    "streaming.query_planning_ms": float(d.get("queryPlanning", 0)),
                    "streaming.wal_commit_ms": float(d.get("walCommit", 0)),
                    "streaming.commit_offsets_ms": float(d.get("commitOffsets", 0)),
                    "streaming.state_commit_ms": float(state.get("commitTimeMs", 0)),
                    "streaming.rows_dropped_by_watermark":
                        state.get("numRowsDroppedByWatermark", 0),
                    **sinks.get("layer", {}),
                    **build_op,
                }
                build_op = {}
                out.append(op)
        return out


class _IdOffset:
    """Session stand-in whose ``range(n)`` starts at ``offset``: it lets
    the program's generator emit the seed's slice of its id space."""

    def __init__(self, spark, offset: int):
        self._spark, self._offset = spark, offset

    def range(self, n: int):
        return self._spark.range(self._offset, self._offset + n)


class SupplierStats(_Replays):
    """Generator orders -> with_event_time -> tag_late_stream ->
    run_supplier_stats dual sink (windowed stats + late JSON channel)."""

    name = "stream_supplier_stats"
    FILES, ROWS_PER_FILE = 4, 400            # 20 s of orders per file at 20/s
    ORDERS_PER_SEC, MAX_DELAY_S = 20, 12     # about 6% of rows arrive late
    WINDOW_S, GRACE_S = 5, 5

    def __init__(self, ctx):
        super().__init__(ctx)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from streaming_demos_spark.streaming import generator as G
        from streaming_demos_spark.streaming import supplier_stats as SS

        self.SS, self.F = SS, F
        n_all = self.FILES * self.ROWS_PER_FILE
        self.offset = (ctx.seed % 100_000) * n_all
        self.orders = SS.with_event_time(G.order_events_batch(
            _IdOffset(ctx.spark, self.offset), n_all,
            events_per_sec=self.ORDERS_PER_SEC, max_delay_sec=self.MAX_DELAY_S))
        self.schema = self.orders.schema
        pdf = self.orders.toPandas().sort_values("seq")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        # Microsecond, UTC-adjusted: read back as the stream's timestamp type.
        table = table.set_column(
            table.schema.get_field_index("event_time"), "event_time",
            table["event_time"].cast(pa.timestamp("us", tz="UTC")))
        staged = self.work / "staged"
        staged.mkdir(parents=True)
        paths = []
        for i in range(self.FILES):
            paths.append(str(staged / f"{i}.parquet"))
            pq.write_table(table.slice(i * self.ROWS_PER_FILE, self.ROWS_PER_FILE), paths[-1])
        self.src = str(self.work / "src")
        self.files = _in_arrival_order(paths, self.src)
        self._expected = None

    def expected(self) -> dict:
        """Per file: (rows, rows ``tag_late_batch`` tags late)."""
        if self._expected is None:
            F, n_main = self.F, self.FILES * self.ROWS_PER_FILE
            main = self.orders.where(F.col("seq") < self.offset + n_main).withColumn(
                "_file", F.floor((F.col("seq") - self.offset) / self.ROWS_PER_FILE))
            late = self.SS.tag_late_batch(main, "supplier", "seq", window_sec=self.WINDOW_S,
                                          grace_sec=self.GRACE_S)
            self._expected = {
                r["_file"]: (r["rows"], r["late"])
                for r in late.groupBy("_file").agg(
                    F.count("*").alias("rows"),
                    F.sum(F.col("is_late").cast("int")).alias("late")).collect()
            }
        return self._expected

    def inputs(self) -> dict:
        rows = sum(r for r, _ in self.expected().values())
        late = sum(n for _, n in self.expected().values())
        return {"files": self.FILES, "rows_per_file": self.ROWS_PER_FILE,
                "orders_per_s": self.ORDERS_PER_SEC, "max_delay_s": self.MAX_DELAY_S,
                "window_s": self.WINDOW_S, "grace_s": self.GRACE_S,
                "late_rows": late, "late_share": late / rows}

    def _start(self, src, chk, sink_log, tracer):
        spark, SS = self.ctx.spark, self.SS

        def writer(kind):
            def write(df, batch_id):
                w0 = time.time()
                rows = df.collect()
                entry = sink_log.setdefault(batch_id, {"spans": {}, "catalyst": {}})
                if kind == "stats":
                    entry["stats_count"] = sum(r["count"] for r in rows)
                else:
                    entry["late_rows"] = len(rows)
                if _traced(batch_id, tracer):
                    entry["spans"][f"sinks.{kind}_write"] = (w0, time.time())
                    entry.setdefault("layer", {})[f"sinks.{kind}_write_ms"] = (
                        1000.0 * (time.time() - w0))
                    for ph, ms in layers.catalyst_ms(df._jdf).items():
                        entry["catalyst"][ph] = entry["catalyst"].get(ph, 0.0) + ms
            return write

        stream = (spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        tagged = SS.tag_late_stream(stream, "supplier", window_sec=self.WINDOW_S,
                                    grace_sec=self.GRACE_S)
        return SS.run_supplier_stats(tagged, writer("stats"), writer("late"),
                                     checkpoint_dir=chk,
                                     trigger={"availableNow": True})

    def _check_batch(self, r, p):
        """Stats counts plus late rows partition the batch's input, and the
        late rows equal what ``tag_late_batch`` tags late in that file."""
        bid = p["batchId"]
        rows, late = self.expected().get(bid, (None, None))
        got = r["sink_log"].get(bid, {})
        if p["numInputRows"] != rows:
            return f"{p['numInputRows']} input rows, file has {rows}"
        if got.get("stats_count", 0) + got.get("late_rows", 0) != rows:
            return f"stats {got.get('stats_count')} + late {got.get('late_rows')} != {rows}"
        if got.get("late_rows") != late:
            return f"late {got.get('late_rows')} != tag_late_batch {late}"
        return None

    def summary(self, result: dict) -> dict:
        late = sum(r["sink_log"][p["batchId"]].get("late_rows", 0)
                   for r in result["replays"] if not r["error"] for p in r["progress"])
        rows = sum(op.get("rows", 0) for op in result["ops"])
        return {**super().summary(result),
                "streaming.late_share": late / rows if rows else None}


class _CountingKV:
    """``sinks.InMemoryKV`` that also counts the keys each mset writes."""

    def __init__(self):
        from streaming_demos_spark.sinks import InMemoryKV

        self.kv, self.written = InMemoryKV(), 0

    def mset(self, mapping):
        self.written += len(mapping)
        self.kv.mset(mapping)

    def mget(self, keys):
        return self.kv.mget(keys)


class LinUCB(_Replays):
    """Feedback replay -> linucb.update_stream -> sinks.model_sink."""

    name = "stream_linucb"
    PRODUCTS, D = 1000, 16
    FILES, ROWS_PER_FILE = 4, 1000
    SCHEMA = "product_id string, context_vector array<double>, reward double"

    def __init__(self, ctx):
        super().__init__(ctx)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from streaming_demos_spark.operators import linucb as LU

        self.LU = LU
        rng = np.random.default_rng(ctx.seed)

        def write(n_files, dst):
            staged = self.work / "staged"
            staged.mkdir(parents=True)
            paths, pids, n = [], [], self.ROWS_PER_FILE
            for i in range(n_files):
                pids.append(rng.integers(0, self.PRODUCTS, size=n).astype(str))
                x = rng.normal(size=(n, self.D)).round(4)
                paths.append(str(staged / f"{i}.parquet"))
                pq.write_table(pa.table({
                    "product_id": pa.array(pids[-1]),
                    "context_vector": pa.array(list(x), type=pa.list_(pa.float64())),
                    "reward": pa.array((rng.random(n) < 0.3).astype(float))}), paths[-1])
            return _in_arrival_order(paths, dst), pids

        self.src = str(self.work / "src")
        self.files, pids = write(self.FILES, self.src)
        self.distinct = [len(set(p)) for p in pids]
        feedback = ctx.spark.read.schema(self.SCHEMA).parquet(*self.files)
        self.expected = {r["product_id"]: (np.array(r["a_inv"]), np.array(r["b"]))
                         for r in LU.fit_batch(feedback, d=self.D).collect()}

    def inputs(self) -> dict:
        return {"products": self.PRODUCTS, "d": self.D, "files": self.FILES,
                "rows_per_file": self.ROWS_PER_FILE}

    def _start(self, src, chk, sink_log, tracer):
        from streaming_demos_spark import sinks as SK

        spark, kv = self.ctx.spark, _CountingKV()
        publish = SK.model_sink(kv)
        sink_log["kv"] = kv

        def write(batch_df, batch_id):
            entry = sink_log.setdefault(batch_id, {"spans": {}})
            before, w0 = kv.written, time.time()
            publish(batch_df, batch_id)
            entry["keys_published"] = kv.written - before
            if _traced(batch_id, tracer):
                entry["spans"]["sinks.publish"] = (w0, time.time())
                # The micro-batch frame's own QueryExecution records no
                # phases until asked for its plan.
                entry["catalyst"] = layers.catalyst_ms(batch_df._jdf, force_plan=True)
                entry["layer"] = {"sinks.publish_ms": 1000.0 * (time.time() - w0),
                                  "sinks.keys_published": entry["keys_published"]}

        stream = (spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return (self.LU.update_stream(stream, d=self.D).writeStream
                .foreachBatch(write).outputMode("append")
                .option("checkpointLocation", chk)
                .trigger(availableNow=True).start())

    def _check_replay(self, r):
        """The final model per key equals ``fit_batch`` over the same rows."""
        data = r["sink_log"]["kv"].kv.data
        if len(data) != len(self.expected):
            return f"{len(data)} models published, fit_batch has {len(self.expected)}"
        for pid, (a_inv, b) in self.expected.items():
            m = json.loads(data[f"linucb:{pid}"])
            if not (np.allclose(m["A_inv"], a_inv, rtol=0, atol=1e-9)
                    and np.allclose(m["b"], b, rtol=0, atol=1e-9)):
                return f"model {pid} differs from fit_batch"
        return None

    def _check_batch(self, r, p):
        bid = p["batchId"]
        if p["numInputRows"] != self.ROWS_PER_FILE:
            return f"{p['numInputRows']} input rows, file has {self.ROWS_PER_FILE}"
        got = r["sink_log"].get(bid, {}).get("keys_published")
        if got != self.distinct[bid]:
            return f"{got} models published, file has {self.distinct[bid]} products"
        return None


