#!/usr/bin/env python3
"""The engine's benchmark: one named workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client in a closed loop: it builds a registered query, waits for its
``.count()``, then issues the next.  The query set of a workload runs in
passes; the seed fixes a permutation of the query order in every warm pass.
The engine receives only the fixture tables, which ``gen.py`` generates
from ``FIXTURE_SEED``, like the fixed-seed fixtures the tests use.  A run
is

1. inputs, outside every clock: the fixture tables, the x10 replica
   (``tools/scale_stress.stage``) and the stream source, each made once
   per checkout and reused; the stream source is made in a child process,
   so that it does not warm the measured JVM;
2. set-up, from process start: imports, a session from ``get_session``
   on a new JVM, and every fixture table loaded through
   ``catalog.load_table``;
3. a cold pass, in the workload's own order, that collects every result
   and checks it against the registry's DuckDB oracle;
4. ``SETTLE_PASSES`` untimed passes, then timed passes for at least
   ``--seconds`` and ``min_passes``; every execution's row count is
   checked against the cold pass.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs untraced and traced timed passes in blocks of four
(``layers.py``) and prints the per-layer metrics.  The last stdout line is one JSON
object; a full run record (machine shape, provenance, raw samples, and
the spans of a traced run) goes to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import pandas as pd

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
FIXTURE_SEED = 42
# Tail percentiles a run may record; it takes the highest one that
# leaves at least TAIL_BEYOND samples above it.
TAIL_LADDER = (50, 75, 90, 95, 99)
TAIL_BEYOND = 10
# A run starts no timed pass after this long, so that on a slow machine
# it still ends well within the three minutes a run may take.  Runs
# take about a minute.
MAX_RUN_S = 90.0
# Untimed passes after the cold one.  A JVM keeps speeding up for
# minutes: in one JVM on 4 cores, shuffle_x10 passes took 7.6, 6.7, 6.8,
# 5.9, 5.9, 5.4 s and 4.2 s after two minutes.  Where on that curve the
# timed passes start is what varies most between runs; two passes is
# what the time of a run allows.
SETTLE_PASSES = 2
# Status-store and Catalyst times are whole milliseconds; spans clip
# them to the execution's own clock readings.
SPAN_TOLERANCE_S = 0.005


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated tables
    factor: int  # key-shifted replication of those tables (1 = none)
    queries: tuple[str, ...]
    # Timed passes even if --seconds is already spent.  Set so that they,
    # not --seconds, end the run: the same number of passes in every run
    # keeps the mix of warm-up stages the same.
    min_passes: int


# Why each workload exists is stated in BENCHMARK.json.  Both are small
# because a run, cold JVM included, has about a minute.
WORKLOADS = {w.name: w for w in (
    # Batch queries drawn from bench.HEADLINE, plus one cheap stream so
    # the streaming layer is measured too.  heavy_hitters_cms and
    # ks_drift_binned launch jobs while their plan is built (eager
    # checkpoints), so registry.build_jobs is measured on batch traffic.
    # Left out: queries that stage their own inputs on first use
    # (manifest_time_travel_diff), queries of several seconds each
    # (dedup_minhash_pairs), which would leave too few passes in a run,
    # and more queries of the kinds already here: with a cold JVM and a
    # cold pass, a run of this set takes about a minute on 4 cores.
    # The count is odd, so that the median execution is the middle one
    # of a pass and not the mean of two neighbours in the ranking, which
    # swap between runs: on 20 recorded runs, leaving agg_battery (0.2 s
    # warm) out narrowed the quartile spread of the median from 0.21 to
    # 0.17 of it.
    Workload(
        "headline_sf0.1", 0.1, 1,
        ("pricing_summary", "broadcast_join_parts",
         "topk_per_group", "arrow_token_stats", "heavy_hitters_cms",
         "ks_drift_binned", "stream_foreachbatch_sink"),
        2,
    ),
    # Three queries of the timed x10 protocol of similar length, so the
    # median execution is a steady one; q21 moves the most shuffle bytes.
    # A third timed pass, because one execution varies more here than
    # between runs: q21 took 0.9 s and 2.3 s in one run on 4 cores.
    Workload(
        "shuffle_x10", 0.01, 10,
        ("tpch_q21_waiting_suppliers", "text_bm25_topk",
         "dsir_importance_weights"),
        3,
    ),
)}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's scale factor (self-test)")
    p.add_argument("--passes", type=int, default=None,
                   help="override the workload's minimum warm passes (self-test)")
    p.add_argument("--stage-streams", action="store_true",
                   help="only stage the stream source, in this process's own JVM")
    return p.parse_args(argv)


def machine_shape(spark, seed: int) -> dict:
    """Everything a comparison of two run records must agree on or report."""
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # a plain checkout; source_sha256 still pins the code
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "scache_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": commit,
        "source_sha256": digest.hexdigest(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "seed": seed,
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """The machine's CPU time by state, from /proc/stat (steal is 8th)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tail_percentile(n: int) -> int | None:
    """Highest ladder percentile that leaves TAIL_BEYOND of n samples above it."""
    for pct in reversed(TAIL_LADDER):
        if n - n * pct // 100 >= TAIL_BEYOND:
            return pct
    return None


def percentile(samples: list[float], pct: int) -> float:
    s = sorted(samples)
    return s[len(s) * pct // 100]


def written_before(staged_dir: str, marker: str, t: float) -> bool:
    """Whether a staging step found its output already there (a cache hit)."""
    return os.path.getmtime(os.path.join(staged_dir, marker)) < t


def _plus_one(x: pd.Series) -> pd.Series:
    return x + 1


class Runner:
    """One workload run: inputs, set-ups, cold pass, warm passes."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = args.sf or self.wl.sf
        self.min_passes = args.passes or self.wl.min_passes
        self.rng = random.Random(args.seed)
        self.record: dict = {"workload": self.wl.name, "trace": args.trace,
                             "seconds": args.seconds, "sf": self.sf,
                             "factor": self.wl.factor, "inputs": {}}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spans: list[dict] = []
        self.spark = None
        self.ticks = cpu_ticks()

    # -- inputs ---------------------------------------------------------
    def stage_inputs(self) -> None:
        import gen
        from tools import scale_stress

        data = os.path.join(STATE, "data", f"sf{self.sf}_seed{FIXTURE_SEED}")
        t = time.time()
        self.record["inputs"]["tables_cached"] = gen.generate(data, FIXTURE_SEED, self.sf)
        self.sf_dir = data
        if self.wl.factor > 1:
            with contextlib.redirect_stdout(sys.stderr):
                self.sf_dir = scale_stress.stage(data, self.wl.factor)
            self.record["inputs"]["replica_cached"] = written_before(self.sf_dir, "_STAGED", t)
        self.record["inputs"]["stage_s"] = time.time() - t
        if self.has_streams() and not self.args.stage_streams:
            self.stage_streams_apart()

    def has_streams(self) -> bool:
        return any(q.startswith("stream_") for q in self.wl.queries)

    def stage_streams_apart(self) -> None:
        """Stage the stream source in a child process with its own JVM
        the first time in a checkout, so that the measured JVM is equally
        cold in every run: staging it there warmed the cold pass by 3-5 s.
        A marker of its own notes that it was done; the stream source
        itself is still checked after set-up."""
        marker = os.path.join(STATE, "streams_staged", os.path.basename(self.sf_dir))
        if os.path.exists(marker):
            return
        t = time.time()
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", self.wl.name,
             "--seed", "0", "--seconds", "0", "--sf", str(self.sf), "--stage-streams"],
            stdout=sys.stderr, check=True, timeout=600)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()
        self.record["inputs"]["stream_stage_apart_s"] = time.time() - t

    def stage_streams(self, spark) -> float:
        """Stage the events stream source the workload's stream queries
        replay, so no query pays for it inside the clock."""
        from scache_spark.streaming.windows import _staged_events_dir

        if not self.has_streams():
            return 0.0
        t = time.time()
        path = _staged_events_dir(spark, self.sf_dir, copies=1)
        self.record["inputs"]["stream_cached"] = written_before(path, "_SUCCESS", t)
        return time.time() - t

    # -- set-up ---------------------------------------------------------
    def set_up(self):
        """The session on a new JVM and every fixture table loaded; the
        stream source is staged after that, outside the clock."""
        from scache_spark.catalog import TABLES, load_table
        from scache_spark.session import get_session

        t0 = time.time()
        self.spark = get_session(
            "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        t1 = time.time()
        for name in TABLES:
            load_table(self.spark, self.sf_dir, name)
        t2 = time.time()
        self.layers = {
            "session.start_s": t1 - t0,
            "catalog.load_s": t2 - t1,
            "streaming.stage_s": self.stage_streams(self.spark),
        }
        return self.spark

    def stop_jvm(self) -> None:
        """Stop the session and the JVM it runs in, and wait until the JVM
        has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    @staticmethod
    def warm_up(spark) -> None:
        """After the cold pass: the Arrow path of the Python workers and
        the shuffle, in case no query of the workload used them; no query
        result is computed here."""
        from pyspark.sql.functions import pandas_udf

        plus_one = pandas_udf(_plus_one, "long")
        spark.range(1000).count()
        spark.range(10000).selectExpr("id % 7 k", "id v").groupBy("k").count().count()
        spark.range(1000).select(plus_one("id")).count()

    # -- passes ---------------------------------------------------------
    def order(self) -> list[str]:
        names = list(self.wl.queries)
        self.rng.shuffle(names)
        return names

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        log(f"FAILED {name}: {why}")

    def untraced_pass(self, spark, expect: dict | None) -> tuple[float, dict, dict]:
        """One pass of ``fn()`` plus ``.count()``; returns pass wall,
        per-execution times and each query's DataFrame and result.

        The cold pass (``expect`` None) collects every result in place
        of counting it, so the oracle check needs no second execution.
        It runs in the workload's own order, not a seeded one: the first
        query pays most of the new JVM's first-use cost, and how much
        depends on the query (heavy_hitters_cms first made the pass 3 s
        longer on 4 cores), so a seeded order would add its own spread."""
        from scache_spark.registry import REGISTRY

        times, frames = {}, {}
        t_pass = time.perf_counter()
        for name in (self.wl.queries if expect is None else self.order()):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = REGISTRY[name].fn(spark, self.sf_dir)
                result = df.toPandas() if expect is None else None
                rows = df.count() if result is None else len(result)
            except Exception:  # one failed query must not end the run
                self.fail(name, traceback.format_exc(limit=3))
                continue
            times[name] = time.perf_counter() - t0
            frames[name] = (df, result)
            if expect is not None and rows != expect[name]:
                self.fail(name, f"{rows} rows, cold pass had {expect[name]}")
        return time.perf_counter() - t_pass, times, frames

    def check_oracles(self, frames: dict) -> dict[str, int]:
        """Cold-pass results against the DuckDB oracle; returns the
        reference row count of every query that passed."""
        import duckdb
        from scache_spark.catalog import TABLES, table_path
        from scache_spark.registry import REGISTRY
        from tests.conftest import assert_frames_match

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.sf_dir, t)}')")
        ref = {}
        for name, (_, result) in frames.items():
            oracle = REGISTRY[name].oracle
            try:
                if len(result) == 0:
                    raise AssertionError("empty result: the check would be vacuous")
                if oracle is not None:
                    assert_frames_match(result, con.execute(oracle).df(), name)
            except AssertionError as exc:
                self.fail(name, f"oracle mismatch: {exc}")
                continue
            ref[name] = len(result)
        con.close()
        self.record["oracle_checked"] = sorted(
            n for n in ref if REGISTRY[n].oracle is not None)
        return ref

    def run(self) -> dict:
        """All phases of the run; returns every metric it measured."""
        import_s = time.time() - T_PROCESS
        self.stage_inputs()
        self.mark("inputs")
        spark = self.set_up()
        self.record["machine"] = machine_shape(spark, self.args.seed)
        log(f"set-up done; {self.wl.name} on {self.record['machine']['nproc']} cores")
        self.mark("setup")
        cold_wall, cold_times, frames = self.untraced_pass(spark, None)
        self.mark("cold_pass")
        ref = self.check_oracles(frames)
        self.record.update(cold_pass_s=cold_wall, cold_query_s=cold_times)
        metrics = {"setup_s": import_s + self.layers["session.start_s"]
                   + self.layers["catalog.load_s"],
                   "cold_pass_s": cold_wall, "session.import_s": import_s}
        if self.args.trace:
            metrics.update(self.plan_shape(frames))
        del frames
        self.warm_up(spark)
        if len(ref) == len(self.wl.queries):  # else warm checks lack a reference
            self.record["settle_pass_s"] = [
                self.untraced_pass(spark, ref)[0] for _ in range(SETTLE_PASSES)]
            metrics.update(self.traced_passes(spark, ref) if self.args.trace
                           else self.warm_passes(spark, ref))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        metrics["driver.peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        metrics.update(self.layers)
        self.mark("warm")
        return metrics

    def mark(self, phase: str) -> None:
        """Record when each phase of the run ended, from process start,
        and the share of the machine's CPU time the hypervisor took from
        it during the phase: at a tenth, warm passes ran at half speed."""
        self.record.setdefault("phase_end_s", {})[phase] = time.time() - T_PROCESS
        ticks = cpu_ticks()
        self.record.setdefault("steal_frac", {})[phase] = (
            (ticks[7] - self.ticks[7]) / max(1, sum(ticks) - sum(self.ticks)))
        self.ticks = ticks

    def warm_passes(self, spark, ref: dict) -> dict:
        """Timed passes; returns the warm end-to-end metrics."""
        per_query: dict[str, list[float]] = {q: [] for q in self.wl.queries}
        passes = 0
        t0 = time.perf_counter()
        while self.more(passes, t0):
            _, times, _ = self.untraced_pass(spark, ref)
            for name, t in times.items():
                per_query[name].append(t)
            passes += 1
        wall = time.perf_counter() - t0
        samples = [t for ts in per_query.values() for t in ts]
        self.record.update(warm_passes=passes, warm_wall_s=wall, samples_s=per_query)
        out = {"queries_per_min": 60.0 * len(samples) / wall,
               "latency_p50_s": statistics.median(samples)}
        # Recorded, not a metric: a run of few, long executions often has
        # no percentile with TAIL_BEYOND samples above it.
        pct = tail_percentile(len(samples))
        if pct is not None:
            self.record["latency_tail"] = {"percentile": pct, "n": len(samples),
                                           "s": percentile(samples, pct)}
        return out

    def more(self, passes: int, t0: float) -> bool:
        if self.args.trace and passes % 4:
            return True  # traced passes come in blocks of four
        if passes and time.time() - T_PROCESS > MAX_RUN_S:
            return False
        floor = max(4, self.min_passes) if self.args.trace else self.min_passes
        return passes < floor or time.perf_counter() - t0 < self.args.seconds

    def traced_passes(self, spark, ref: dict) -> dict:
        """Untraced and traced warm passes in blocks of four: untraced,
        traced, traced, untraced, so that a drift in speed during the run
        does not bias trace.overhead_frac."""
        from scache_spark.registry import REGISTRY
        from layers import Tracer, summarize

        tracer = Tracer(spark)
        plain, traced, records = [], [], []
        t0 = time.perf_counter()
        while self.more(len(plain) + len(traced), t0):
            if (len(plain) + len(traced)) % 4 in (0, 3):
                plain.append(self.untraced_pass(spark, ref)[0])
                continue
            t_pass = time.perf_counter()
            for name in self.order():
                self.attempted += 1
                exec_id = f"{self.wl.name}:{len(traced) + 1}:{name}"
                try:
                    rec = tracer.execute(REGISTRY[name], self.sf_dir, exec_id)
                except Exception:  # one failed query must not end the run
                    self.fail(name, traceback.format_exc(limit=3))
                    continue
                records.append(rec)
                if rec["rows"] != ref[name]:
                    self.fail(name, f"traced action counted {rec['rows']} rows, "
                                    f"untraced count {ref[name]}")
                self.check_spans(name, rec)
            traced.append(time.perf_counter() - t_pass)
        tracer.close()
        out = summarize(records, tracer.cores)
        if out["exec.stages_missing"]:
            self.fail("trace", f"{out['exec.stages_missing']} stages missing "
                               "from the status store")
        out["trace.overhead_frac"] = statistics.mean(traced) / statistics.mean(plain) - 1
        self.record.update(warm_passes=len(traced), traced_pass_s=traced,
                           untraced_pass_s=plain, executions=records)
        self.spans = tracer.spans
        return out

    def check_spans(self, name: str, rec: dict) -> None:
        """The span tree against figures read without it: the driver's
        unattributed time is wall time minus build, Catalyst phases and
        the union of the action's jobs from the status store."""
        from layers import CATALYST_PHASES

        if rec["min_self_s"] < -1e-6:
            self.fail(name, f"a span has negative self time {rec['min_self_s']:.6f}s")
        direct = (rec["wall_s"] - rec["registry.build_s"] - rec["action_job_wall_s"]
                  - sum(rec[f"plans.{p}_s"] for p in CATALYST_PHASES))
        if abs(direct - rec["driver.unattributed_s"]) > SPAN_TOLERANCE_S:
            self.fail(name, f"driver.unattributed_s {rec['driver.unattributed_s']:.4f}s "
                            f"from the spans, {direct:.4f}s from the status store")

    @staticmethod
    def plan_shape(frames: dict) -> dict:
        """Plan shape of every batch query, per query, from the cold pass."""
        import re

        from scache_spark.plans import plan_report

        shapes = []
        for name, (df, _) in frames.items():
            if name.startswith("stream_"):
                continue  # a stream's result is its memory sink, not its plan
            rep = plan_report(df)
            shapes.append((rep["exchanges"], rep["broad_scans"], len(re.findall(
                r"^\(\d+\) BroadcastExchange\b", rep["plan"], flags=re.MULTILINE))))
        n = max(1, len(shapes))
        return {"plans.exchanges": sum(s[0] for s in shapes) / n,
                "plans.scans": sum(s[1] for s in shapes) / n,
                "plans.broadcasts": sum(s[2] for s in shapes) / n}


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric names and units the run must print, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Spark's Python workers import the engine too, from any working dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]
    try:
        declared = declared_metrics(args.trace)
        from bench import HEADLINE
        import scache_spark.registry as registry
        import tools.scale_stress  # noqa: F401
    except (ImportError, OSError) as exc:
        print(f"perfbench: the engine is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    registry._ensure_loaded()
    wl = WORKLOADS[args.workload]
    unknown = [q for q in wl.queries if q not in registry.REGISTRY]
    if wl.name.startswith("headline"):
        unknown += [q for q in wl.queries if q not in HEADLINE and not q.startswith("stream_")]
    if unknown:
        print(f"perfbench: {unknown} not registered or not headline queries",
              file=sys.stderr)
        return 2
    runner = Runner(args)
    if args.stage_streams:
        from scache_spark.session import get_session

        runner.stage_inputs()
        try:
            runner.stage_streams(get_session("perfbench-stage"))
        finally:
            runner.stop_jvm()
        return 0
    try:
        metrics = runner.run()
    finally:
        runner.stop_jvm()
    missing = sorted(set(declared) - set(metrics))
    if missing:
        runner.fail("metrics", f"not measured: {missing}")
    result = {
        "correct": runner.failed == 0 and not missing,
        "attempted": max(1, runner.attempted),
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in declared.items() if k in metrics},
    }
    runner.record.update(result=result, all_metrics=metrics, errors=runner.errors,
                         failed_frac=runner.failed / max(1, runner.attempted))
    out_dir = os.path.join(STATE, "runs")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{wl.name}_seed{args.seed}_trace{args.trace}_{int(T_PROCESS)}")
    with open(stem + ".json", "w") as f:
        json.dump(runner.record, f, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for span in runner.spans:
                f.write(json.dumps(span, default=str) + "\n")
    for k, v in result["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    tail = runner.record.get("latency_tail")
    if tail and not args.trace:
        print(f"latency_tail {tail['s']:.6g} s as measured (p{tail['percentile']}, n={tail['n']})")
    print(f"failed_frac {runner.record['failed_frac']:.6g} fraction "
          f"({runner.failed}/{result['attempted']})")
    print(f"record {stem}.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
