"""Per-layer tracing of query executions, measured from outside the engine.

The tracer times calls into the engine's public entry points and reads
Spark's own bookkeeping through the session; it changes nothing in the
engine.  One traced execution of a registered query is:

* ``registry.build`` -- ``spec.fn(spark, sf_dir)`` under the job group
  ``<exec_id>:build``; jobs it launches (eager checkpoints, counts, a
  whole availableNow stream) are its children.
* ``plans.plan`` -- ``df.groupBy().count()`` (what ``DataFrame.count``
  runs) and forcing its ``executedPlan``; Catalyst's own phase timings
  from ``queryExecution().tracker().phases()`` are its children.
* ``exec.action`` -- ``collect()`` of that count under the job group
  ``<exec_id>:action``; its jobs are its children.

Job and stage times come from the status store; stream micro-batch
spans come from a ``StreamingQueryListener``.  Spans are kept in memory
and written out when the run ends.

Self time is a span's duration minus what its children cover.  Children
that overlap in time (AQE runs independent stages as concurrent jobs)
are merged into one ``exec.jobs`` busy span first, so the self times of
one execution's span tree add up to its wall time exactly.  Whatever
lies outside the build, Catalyst and job spans is the driver's
unattributed time.
"""

from __future__ import annotations

import datetime as _dt
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# Driver-side spans whose self time is not attributed to any layer.
UNATTRIBUTED = ("query", "plans.plan", "exec.action")
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float
    children: list[Span] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def add(self, name: str, start: float, end: float) -> Span | None:
        """Add a child clipped to this span; None if nothing is left."""
        start, end = max(start, self.start), min(end, self.end)
        if end <= start:
            return None
        child = Span(name, start, end)
        self.children.append(child)
        return child

    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    def walk(self, parent: int | None = None, out: list | None = None) -> list[dict]:
        """Flatten to records; ``parent`` is the index of the parent record."""
        out = [] if out is None else out
        me = len(out)
        out.append({"name": self.name, "start": self.start, "end": self.end,
                    "self_s": self.self_time(), "parent": parent, **self.attrs})
        for c in self.children:
            c.walk(me, out)
        return out


def merge_overlaps(parent: Span, name: str, intervals: list[tuple]) -> None:
    """Add ``(start, end, attrs)`` intervals as children of ``parent``.

    Intervals that overlap are grouped under one ``name`` busy span, so
    siblings never overlap and self times add up to the parent's."""
    clipped = sorted(
        (max(s, parent.start), min(e, parent.end), a)
        for s, e, a in intervals if min(e, parent.end) > max(s, parent.start)
    )
    group: list[tuple] = []
    for iv in clipped + [None]:
        if group and (iv is None or iv[0] >= max(g[1] for g in group)):
            start, end = group[0][0], max(g[1] for g in group)
            busy = Span(name, start, end, attrs={"members": [g[2] for g in group]})
            parent.children.append(busy)
            group = []
        if iv is not None:
            group.append(iv)


def _ms(jdate_opt) -> float | None:
    return jdate_opt.get().getTime() / 1000.0 if jdate_opt.isDefined() else None


def _iso(ts: str) -> float:
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _StreamListener(StreamingQueryListener):
    """Collects run ids and progress events of every stream query."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[tuple[float, str]] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append((time.time(), str(event.runId)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            self.progress.append({
                "runId": str(p.runId), "timestamp": _iso(p.timestamp),
                "batchId": p.batchId, "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "stateRows": sum(o.numRowsTotal for o in p.stateOperators),
                "stateMem": sum(o.memoryUsedBytes for o in p.stateOperators),
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, since: float) -> tuple[list[str], list[dict]]:
        """Run ids and progress of the streams started since ``since``;
        forgets everything it has seen so far."""
        with self.lock:
            runs = [r for t, r in self.started if t >= since]
            prog = [p for p in self.progress if p["runId"] in runs]
            self.started, self.progress = [], []
        return runs, prog


class Tracer:
    """Runs registered queries with spans and per-layer counters."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.cores = self.sc.defaultParallelism
        self.listener = _StreamListener()
        spark.streams.addListener(self.listener)
        self.spans: list[dict] = []

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def execute(self, spec, sf_dir: str, exec_id: str) -> dict:
        """One traced execution; returns its per-layer record."""
        t0 = time.time()
        self.sc.setJobGroup(f"{exec_id}:build", spec.name)
        df = spec.fn(self.spark, sf_dir)
        t1 = time.time()
        self.sc.setJobGroup(f"{exec_id}:action", spec.name)
        agg = df.groupBy().count()
        qe = agg._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.time()
        rows = agg.collect()[0][0]
        t3 = time.time()
        self.sc.setJobGroup("perfbench:idle", "")
        # Everything below is outside the execution's spans.
        self.bus.waitUntilEmpty()
        runs, progress = self.listener.take(t0)
        root = Span("query", t0, t3, attrs={"exec_id": exec_id, "query": spec.name})
        build = root.add("registry.build", t0, t1)
        plan = root.add("plans.plan", t1, t2)
        action = root.add("exec.action", t2, t3)
        rec = {"query": spec.name, "exec_id": exec_id, "rows": rows,
               "wall_s": t3 - t0, "registry.build_s": t1 - t0}
        phases = qe.tracker().phases()
        for phase in CATALYST_PHASES:
            summary = phases.get(phase)
            ms = summary.get().durationMs() if summary.isDefined() else 0
            rec[f"plans.{phase}_s"] = ms / 1000.0
            if plan is not None and summary.isDefined():
                s = summary.get()
                plan.add(f"plans.{phase}", s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0)
        build_jobs = self._jobs(f"{exec_id}:build") + [
            j for r in runs for j in self._jobs(r)]
        action_jobs = self._jobs(f"{exec_id}:action")
        rec["registry.build_jobs"] = len(build_jobs)
        rec.update(self._exec_counters(build_jobs + action_jobs))
        if build is not None:
            self._attach_build(build, build_jobs, progress)
        if action is not None:
            merge_overlaps(action, "exec.jobs", [(j["start"], j["end"], j["id"]) for j in action_jobs])
        rec.update(self._stream_counters(progress, t1 - t0))
        records = root.walk()
        for r in records:
            r["exec_id"] = exec_id
        self.spans.extend(records)
        rec["driver.unattributed_s"] = sum(
            r["self_s"] for r in records if r["name"] in UNATTRIBUTED)
        # For checks that do not go through the span tree.
        rec["min_self_s"] = min(r["self_s"] for r in records)
        rec["action_job_wall_s"] = _union([(j["start"], j["end"]) for j in action_jobs])
        return rec

    def _attach_build(self, build: Span, jobs: list[dict], progress: list[dict]) -> None:
        """Stream batches and build jobs under the build span; a job that
        runs inside a micro-batch goes under that batch."""
        merge_overlaps(build, "streaming.batch", [
            (p["timestamp"], p["timestamp"] + p["durationMs"].get("triggerExecution", 0) / 1e3,
             p["batchId"]) for p in progress])
        batches = list(build.children)
        outside: list[tuple] = []
        inside: dict[int, list[tuple]] = {}
        for j in jobs:
            iv = (j["start"], j["end"], j["id"])
            host = next((i for i, b in enumerate(batches) if b.start <= j["start"] < b.end), None)
            (outside if host is None else inside.setdefault(host, [])).append(iv)
        for i, ivs in inside.items():
            merge_overlaps(batches[i], "exec.jobs", ivs)
        # jobs outside every batch start before or after the batches
        # they might overlap; merge them against the batch spans
        merge_overlaps(build, "exec.jobs", [
            iv for iv in outside
            if not any(b.start < iv[1] and iv[0] < b.end for b in batches)])
        build.children.sort(key=lambda c: c.start)

    def _jobs(self, group: str) -> list[dict]:
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            start, end = _ms(jd.submissionTime()), _ms(jd.completionTime())
            if start is None or end is None:
                continue
            sids = jd.stageIds()
            jobs.append({"id": jid, "start": start, "end": end,
                         "stages": [sids.apply(i) for i in range(sids.size())]})
        return jobs

    def _exec_counters(self, jobs: list[dict]) -> dict:
        """Scheduler, executor and shuffle counters of the given jobs."""
        c = dict.fromkeys(
            ("exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
             "exec.gc_s", "exec.deser_s", "exec.shuffle_write_bytes",
             "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.failed_tasks",
             "exec.stages_missing"), 0)
        c["exec.jobs"] = len(jobs)
        skew = 0.0
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                if "NoSuchElementException" not in str(exc):
                    raise
                c["exec.stages_missing"] += 1
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += sd.numTasks()
            c["exec.failed_tasks"] += sd.numFailedTasks()
            c["exec.task_run_s"] += sd.executorRunTime() / 1e3
            c["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            c["exec.gc_s"] += sd.jvmGcTime() / 1e3
            c["exec.deser_s"] += sd.executorDeserializeTime() / 1e3
            c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.shuffleReadBytes() > 0 and sd.numTasks() > 1:
                summary = self.store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    rb = summary.get().shuffleReadMetrics().readBytes()
                    med, mx = rb.apply(0), rb.apply(1)
                    skew = max(skew, mx / med if med > 0 else float(sd.numTasks()))
        c["exec.reducer_skew"] = skew
        c["exec.job_wall_s"] = _union([(j["start"], j["end"]) for j in jobs])
        return c

    @staticmethod
    def _stream_counters(progress: list[dict], build_s: float) -> dict:
        def dur(*keys):
            return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1e3

        trigger = dur("triggerExecution")
        return {
            "streaming.batches": len(progress),
            "streaming.input_rows": sum(p["numInputRows"] for p in progress),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.commit_s": dur("walCommit", "commitOffsets"),
            "streaming.offset_s": dur("latestOffset", "getBatch"),
            "streaming.trigger_s": trigger,
            "streaming.start_stop_s": build_s - trigger if progress else 0.0,
            "streaming.state_rows": max((p["stateRows"] for p in progress), default=0),
            "streaming.state_mem_bytes": max((p["stateMem"] for p in progress), default=0),
            "batch_durations_s": [p["durationMs"].get("triggerExecution", 0) / 1e3
                                  for p in progress],
        }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def summarize(records: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced run: means per warm execution,
    except the ratios, which are taken over the whole run."""
    n = len(records)
    out: dict[str, float] = {}
    mean_keys = sorted({k for r in records for k in r
                        if "." in k and k != "exec.reducer_skew"
                        and isinstance(r[k], (int, float))})
    for k in mean_keys:
        out[k] = sum(r.get(k, 0) for r in records) / n
    job_wall = sum(r["exec.job_wall_s"] for r in records)
    out["exec.slot_util"] = (
        sum(r["exec.task_run_s"] for r in records) / (job_wall * cores) if job_wall else 0.0)
    out["exec.reducer_skew"] = statistics.median(r["exec.reducer_skew"] for r in records)
    out["exec.stages_missing"] = sum(r["exec.stages_missing"] for r in records)
    out["exec.failed_tasks"] = sum(r["exec.failed_tasks"] for r in records)
    batches = [d for r in records for d in r["batch_durations_s"]]
    stream_wall = sum(r["wall_s"] for r in records if r["streaming.batches"])
    out["streaming.batch_p50_s"] = statistics.median(batches) if batches else 0.0
    out["streaming.rows_per_s"] = (
        sum(r["streaming.input_rows"] for r in records) / stream_wall if stream_wall else 0.0)
    return out
