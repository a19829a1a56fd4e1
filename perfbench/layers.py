"""Readers for Spark's own layer boundaries, called only by the traced
run: Catalyst phase times from a QueryExecution's tracker, job/stage/
task and shuffle counts from the application status store, persist-ring
occupancy and driver memory. Everything goes through JVM objects
reachable from a SparkSession. Nothing here changes the plans Spark runs;
asking a frame for its physical plan adds planning work to the traced
run (after a batch key's clock has stopped; inside a traced LinUCB
micro-batch)."""

from __future__ import annotations

from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(jdf, force_plan: bool = False) -> dict[str, float]:
    """Phase durations recorded by ``queryExecution().tracker()``.

    ``force_plan`` asks the QueryExecution for its physical plan first;
    a noop write plans its own command, so the frame's own optimization
    and planning only happen when asked for."""
    qe = jdf.queryExecution()
    if force_plan:
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def driver_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def jobs_since(spark, after_job_id: int) -> list[dict]:
    """Jobs with id above ``after_job_id``: submission time (epoch s)
    and the run/shuffle totals of the stages they actually ran."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > after_job_id]
    wanted = {int(s) for j in jobs for s in _seq(j.stageIds())}
    stages = {}
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, no_quantiles,
                                   jvm.java.util.ArrayList())):
        sid = st.stageId()
        if sid not in wanted or st.status().toString() == "SKIPPED":
            continue
        stages[sid] = {
            "tasks": st.numTasks(),
            "input_rows": st.inputRecords(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
    out = []
    for j in jobs:
        sub = j.submissionTime()
        ran = [stages[s] for s in (int(x) for x in _seq(j.stageIds())) if s in stages]
        totals = defaultdict(int)
        for st in ran:
            for k, v in st.items():
                totals[k] += v
        out.append({"job": j.jobId(),
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "stages": len(ran), **totals})
    return out


def jobs_in(jobs: list[dict], start: float, end: float) -> dict:
    """Sum the counters of jobs submitted inside [start, end] (epoch s).

    The loop is closed (one operation at a time), so a job's submission
    time places it in exactly one operation's window. Submission times
    are truncated to the millisecond, hence the 1 ms of slack."""
    tot = defaultdict(int)
    for j in jobs:
        if j["submitted"] is not None and start - 0.001 <= j["submitted"] <= end:
            tot["jobs"] += 1
            for k in ("stages", "tasks", "input_rows", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                tot[k] += j.get(k, 0)
    return dict(tot)
