#!/usr/bin/env python3
"""Lake benchmark: one workload, one seed, one closed-loop run.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 1 --trace 0

The run generates the lake (the same in every run) under ``.perfbench/``,
sets the engine up (session, query registry, table loader, one untimed
warm-up pass on that lake), checks every query's warm-up result against its
DuckDB oracle, records the JVM's live heap, then runs timed passes until
``--seconds`` have passed and at least ``MIN_PASSES`` passes are done.  One
client, one driver thread: each query starts when the previous one
returned.  ``--seed`` fixes the query order inside every timed pass.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a separate
run with Spark's event log on and every job labelled
``<workload>/<query>/<layer>/<pass>``; it reports the per-layer metrics.
Each query of a traced pass is built (``build``), run into a noop sink
(``execute``) and collected (``transfer`` = collect minus noop).

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Lines before it, starting with ``#``, record the host inputs, the
unbounded end-to-end numbers (pass wall time, per-query median and tail,
failed share, peak RSS) and the layer shares.  The run exits non-zero,
printing no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import random
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import lake  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: everything a run writes, inside the checkout (gitignored)
WORK = os.path.join(ROOT, ".perfbench")
#: the engine writes query outputs under <root>/.scratch/<query>/<lake tag>
SCRATCH = os.path.join(ROOT, ".scratch")
LAKE_PREFIX = "perfbench-"
#: the driver heap, ample for these lakes; the engine's own default (24g)
#: exceeds the host's memory
DRIVER_MEM = "1g"
#: scale factor of every generated lake (lineitem = 6M x sf)
LAKE_SF = 0.002
SMOKE_SF = 0.001
#: every run reads the same lake, so runs with different seeds differ only
#: in the order of the timed queries, not in the data the kernels meet
LAKE_SEED = 0
#: timed passes a run makes at least; one, as a run's set-up (JVM start and
#: the cold warm-up pass) already costs two to three passes and every run
#: must fit the benchmark's time budget
MIN_PASSES = 1
#: seconds the engine's context cleaner gets to drop the blocks, shuffles
#: and broadcasts that one full collection found unreachable
CLEANER_WAIT_S = 0.5
#: the live heap has settled when a collection frees less than this share
HEAP_SETTLED = 0.01
HEAP_SETTLED_ROUNDS = 3
HEAP_MAX_ROUNDS = 12
#: stop starting passes after this long, so a run that keeps failing still
#: ends well inside its time limit
MAX_TIMED_S = 120.0
MB = 1e6
#: thread names of HotSpot's JIT compilers (C1, C2)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

#: the bounded metrics of the result line
END_TO_END_UNITS = {
    "setup_s": "s", "pass_cpu_s": "s", "stored_mb": "MB", "heap_mb": "MB",
}
#: queries whose own counters the traced run reports
BUILD_JOBS_OF = ("i22_dedup_clusters", "i27_cc_bigstar",
                 "i24_curation_pipeline", "i59_semdedup_census_ann")
SHUFFLE_OF, SKEW_OF = "i48_span_dedup", "i59_semdedup_census_ann"
#: event-log counter (tracing.GroupCounters field) -> per-layer metric
EVENT_COUNTERS = {
    "shuffle_write_bytes": "shuffle.write_bytes",
    "shuffle_read_bytes": "shuffle.read_bytes",
    "spill_bytes": "spill.bytes",
    "input_bytes": "scan.input_bytes",
    "output_bytes": "write.output_bytes",
    "written_files": "write.files",
    "failed_tasks": "task.failed",
}


def per_layer_units() -> dict[str, str]:
    """Every declared per-layer metric name with its unit.

    A time that is 0 wherever a workload skips its layer (build seconds per
    builder module, micro-batch seconds) and the failed-task count (0 on
    every correct run) are printed on the ``# layers`` line instead."""
    units = {
        "session.build_s": "s", "registry.load_s": "s", "loader.cold_s": "s",
        "warmup_s": "s", "trace.pass_s": "s",
        "build.s": "s", "build.jobs": "count", "build.share": "ratio",
        "execute.s": "s", "execute.jobs": "count", "execute.tasks": "count",
        "execute.share": "ratio",
        "transfer.s": "s", "transfer.rows": "count", "transfer.share": "ratio",
        "write.output_bytes": "B", "write.files": "count",
        "scan.input_bytes": "B",
        "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
        "spill.bytes": "B", "task.skew": "ratio",
        "streaming.batches": "count",
        f"{SHUFFLE_OF}.shuffle_write_bytes": "B",
        f"{SKEW_OF}.task_skew": "ratio",
    }
    units.update({f"{q}.build_jobs": "count" for q in BUILD_JOBS_OF})
    return units


class EngineMissing(Exception):
    pass


class Engine:
    """The engine's public entry points, imported from the checkout."""

    def __init__(self):
        try:
            from csv_to_parquet_aws_datalake_spark import loader, registry
            from csv_to_parquet_aws_datalake_spark.session import build_session
            from tests.differential import compare, make_oracle_con
        except ImportError as exc:
            raise EngineMissing(str(exc)) from exc
        self.loader, self.registry = loader, registry
        self.build_session = build_session
        self.compare, self.make_oracle_con = compare, make_oracle_con

    def builders(self) -> dict:
        self.registry.load_all()
        return self.registry.QUERIES


def module_of(fn) -> str:
    """Builder module relative to the engine package (``operators.scans``)."""
    mod = fn.__module__
    pkg = "csv_to_parquet_aws_datalake_spark."
    return mod[len(pkg):] if mod.startswith(pkg) else mod


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def pin_host(run_dir: str, trace: bool) -> dict:
    """Set the host inputs the engine reads, and the Spark confs this run
    passes at launch; returns them for the record."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = {"SPARK_GRAFT_CPUS": str(host_cpus()),
           "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
           "SPARK_LOCAL_DIRS": local, "TMPDIR": tmp}
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    # keep both JVMs (spark-submit's launcher and Spark's driver) out of the
    # system temp directory
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = java_opts
    # a fixed heap size, so the collector's timing does not follow when it
    # chose to grow the heap; JIT compiler threads that never exit, so the
    # CPU they used stays theirs (cpu_seconds leaves it out)
    driver_opts = (f"{java_opts} -Xms{DRIVER_MEM}"
                   " -XX:-UseDynamicNumberOfCompilerThreads")
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [*args, "--driver-java-options", shlex.quote(driver_opts), "pyspark-shell"])
    os.environ.update(env)
    tempfile.tempdir = tmp  # may already be cached from before TMPDIR was set
    return {**env, **confs}


def lake_scratch_dirs(lake_dir: str) -> list[str]:
    tag = os.path.basename(lake_dir)
    return glob.glob(os.path.join(SCRATCH, "*", tag + "-*"))


def stored_bytes(paths: list[str]) -> int:
    """Apparent bytes of every file under ``paths``, hard links once."""
    seen, total = set(), 0
    for top in paths:
        for dirpath, _, files in os.walk(top):
            for f in files:
                st = os.lstat(os.path.join(dirpath, f))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total


def live_heap_bytes(spark) -> int:
    """Heap the driver JVM still holds after full collections: pinned and
    cached blocks, broadcasts, plan and status state.  Unlike the JVM's
    RSS, it does not follow when the collector chose to grow the heap.

    Each collection lets Spark's context cleaner find the blocks, shuffles
    and broadcasts of dead plans, and what it drops is freed by the next
    one, so collections repeat until the heap has stopped shrinking for
    ``HEAP_SETTLED_ROUNDS`` rounds in a row.  One such round was not enough:
    3 of 10 ``curation`` runs then read 105 MB where the others settled at
    80 MB, as the heap can stay near 105 MB for two or three collections
    before the cleaner frees the rest.  Before each collection the listener bus
    is drained, so events still queued for the status store are not counted
    in some runs and applied in others."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    low, settled = None, 0
    for _ in range(HEAP_MAX_ROUNDS):
        bus.waitUntilEmpty()
        gc.collect()  # release the JVM objects that dead Python proxies hold
        jvm.java.lang.System.gc()  # a full, stop-the-world collection
        now = bean.getHeapMemoryUsage().getUsed()
        if low is not None and now > low * (1 - HEAP_SETTLED):
            settled += 1
            if settled == HEAP_SETTLED_ROUNDS:
                break
        else:
            settled = 0
        low = now if low is None else min(low, now)
        time.sleep(CLEANER_WAIT_S)
    return low


def _stat(path: str) -> tuple[str, list[str]]:
    """Command name and the fields after it of a /proc ``stat`` file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def jit_ticks(pid: int) -> int:
    """Clock ticks the JVM's JIT compiler threads have used so far."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended meanwhile
            continue
        if name.startswith(JIT_THREADS):
            total += int(fields[11]) + int(fields[12])
    return total


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and by the JVM with every
    process under it (its Python workers), reaped children included, less
    the JVM's JIT compiler threads.  Unlike wall time, it does not count
    time the host gave to others.

    After one warm-up pass the JIT still compiles: in a ``curation`` run it
    took 17 of the first timed pass's 33 CPU seconds and 13 of the third's
    29, and how much of it lands in the timed pass follows the host's
    speed during the warm-up.  The compiled code's own speed-up still
    counts."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            _, fields = _stat(f"/proc/{entry}/stat")
        except OSError:  # the process ended meanwhile
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # u/s/cu/cs time
    total = 0
    for pid, tk in ticks.items():
        p = pid
        while p > 1 and p != jvm_pid:
            p = parent.get(p, 0)
        if p == jvm_pid:
            total += tk
    if jvm_pid in ticks:
        total -= jit_ticks(jvm_pid)
    own = os.times()
    return own.user + own.system + total / os.sysconf("SC_CLK_TCK")


def peak_rss_bytes(jvm_pid: int) -> tuple[int, int]:
    """High-water RSS of this Python process and of the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return py, int(line.split()[1]) * 1024
    raise RuntimeError("JVM status has no VmHWM line")


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Run:
    def __init__(self, engine: Engine, workload: str, seed: int,
                 seconds: float, trace: bool, smoke: bool):
        self.e = engine
        self.w = WORKLOADS[workload]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.sf = SMOKE_SF if smoke else LAKE_SF
        self.rng = random.Random(seed)
        self.run_dir = os.path.join(WORK, f"{workload}-s{seed}-{os.getpid()}")
        self.lake = os.path.join(self.run_dir, f"{LAKE_PREFIX}{workload}-s{seed}")
        self.attempted = self.failed = 0
        self.tracer = None
        self.spark = None
        self.rows: dict[tuple, int] = {}  # (pass, query) -> rows collected
        self.collect_s: dict[tuple, float] = {}
        self.latency: dict[str, list[float]] = {q: [] for q in self.w.queries}

    # -- one query -------------------------------------------------------
    def _fail(self, qid: str, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {self.w.name}/{qid}: {what}", file=sys.stderr)

    def label(self, qid: str, layer: str, pass_id) -> str:
        return f"{self.w.name}/{qid}/{layer}/{pass_id}"

    def run_query(self, spark, qid: str, pass_id, noop: bool):
        """Build and collect one query; returns ``(df, rows, build_s,
        collect_s)``, or None when it raised."""
        fn = self.builders[qid]
        self.attempted += 1
        try:
            if self.tracer is None:
                t0 = time.perf_counter()
                df = fn(spark, self.lake)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                build_s, collect_s = t1 - t0, t2 - t1
            else:
                with self.tracer.span(self.label(qid, "build", pass_id)):
                    df = fn(spark, self.lake)
                if noop:
                    with self.tracer.span(self.label(qid, "execute", pass_id)):
                        df.write.format("noop").mode("overwrite").save()
                with self.tracer.span(self.label(qid, "transfer", pass_id)):
                    rows = df.collect()
                spans = self.tracer.spans
                build_s = spans[self.label(qid, "build", pass_id)].seconds
                collect_s = spans[self.label(qid, "transfer", pass_id)].seconds
        except Exception:  # a failing query is counted, and the run goes on
            self._fail(qid, "raised\n" + traceback.format_exc())
            return None
        self.rows[(pass_id, qid)] = len(rows)
        self.collect_s[(pass_id, qid)] = collect_s
        return df, rows, build_s, collect_s

    # -- phases ----------------------------------------------------------
    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        self.spark = self.e.build_session(f"perfbench-{self.w.name}", host_cpus())
        t1 = time.perf_counter()
        if self.trace:
            import tracing
            self.tracer = tracing.Tracer(self.spark)
            t1 = time.perf_counter()
        self.builders = self.e.builders()
        t2 = time.perf_counter()
        self.e.loader.load_tables(self.spark, self.lake)
        t3 = time.perf_counter()
        self.warm = {}
        # one fixed warm-up order, so every run's JIT sees the same start
        for qid in self.w.queries:
            out = self.run_query(self.spark, qid, "warmup", noop=False)
            if out is not None:
                self.warm[qid] = out
        t4 = time.perf_counter()
        return {"session.build_s": t1 - t0, "registry.load_s": t2 - t1,
                "loader.cold_s": t3 - t2, "warmup_s": t4 - t3,
                "setup_s": (t1 - t0) + (t4 - t1)}

    def gate(self) -> None:
        """Compare every warm-up result with the query's DuckDB oracle."""
        con = self.e.make_oracle_con(self.lake)
        try:
            for qid in self.w.queries:
                if qid not in self.warm:
                    continue  # its exception was already counted
                df, rows, _, _ = self.warm[qid]
                try:
                    self.e.compare(df, con, self.e.registry.ORACLES[qid], rows)
                except AssertionError as exc:
                    self._fail(qid, f"oracle mismatch: {exc}")
        finally:
            con.close()
        self.warm_rows = {q: len(v[1]) for q, v in self.warm.items()}
        self.warm.clear()

    def timed(self) -> tuple[list[float], list[float], list[float], list[float]]:
        """Closed-loop passes; returns (pass seconds, build seconds per
        pass, query latencies, CPU seconds per pass)."""
        passes, builds, samples, cpus = [], [], [], []
        jvm = self.spark.sparkContext._gateway.proc.pid
        start = time.perf_counter()
        p = 0
        while True:
            elapsed = time.perf_counter() - start
            if elapsed >= MAX_TIMED_S or (elapsed >= self.seconds and p >= MIN_PASSES):
                break
            order = list(self.w.queries)
            self.rng.shuffle(order)
            total = build = 0.0
            cpu0 = cpu_seconds(jvm)
            for qid in order:
                out = self.run_query(self.spark, qid, p, noop=self.trace)
                if out is None:
                    continue
                _, rows, build_s, collect_s = out
                if len(rows) != self.warm_rows.get(qid, len(rows)):
                    self._fail(qid, f"{len(rows)} rows, warm-up had {self.warm_rows[qid]}")
                samples.append(build_s + collect_s)
                self.latency[qid].append(build_s + collect_s)
                total += build_s + collect_s
                build += build_s
            cpus.append(cpu_seconds(jvm) - cpu0)
            passes.append(total)
            builds.append(build)
            p += 1
        return passes, builds, samples, cpus

    # -- whole run -------------------------------------------------------
    def execute(self) -> dict:
        # outputs a killed run of the same workload and seed left behind
        for d in (self.run_dir, *lake_scratch_dirs(self.lake)):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        lake_bytes = lake.write_lake(self.lake, self.sf, LAKE_SEED)
        lake_s = time.perf_counter() - t0
        host = pin_host(self.run_dir, self.trace)
        wall = {"lake_s": lake_s}
        try:
            t = time.perf_counter()
            setup = self.setup()
            t, wall["setup_s"] = time.perf_counter(), time.perf_counter() - t
            self.gate()
            t, wall["gate_s"] = time.perf_counter(), time.perf_counter() - t
            # after set-up, a fixed amount of work; the collections also let
            # background compilation of the warm-up's hot code settle
            heap = live_heap_bytes(self.spark)
            t, wall["heap_s"] = time.perf_counter(), time.perf_counter() - t
            passes, builds, samples, cpus = self.timed()
            wall["timed_s"] = time.perf_counter() - t
            stored = stored_bytes([self.lake, *lake_scratch_dirs(self.lake)])
            rss = peak_rss_bytes(self.spark.sparkContext._gateway.proc.pid)
            per_pass = None
            if self.tracer:
                self.tracer.drain_listeners()
                per_pass = self.span_metrics(len(passes))
                self.tracer.close(self.spark)
        finally:
            if self.spark is not None:
                t = time.perf_counter()
                stop_spark(self.spark)
                wall["stop_s"] = time.perf_counter() - t
        if not samples:
            raise RuntimeError("no query completed")
        end_to_end = {
            "setup_s": setup["setup_s"], "pass_cpu_s": stats.median(cpus),
            "stored_mb": stored / MB, "heap_mb": heap / MB,
        }
        # wall times: reported, not bounded, as on a shared host they follow
        # the time the host gives to others (see README.md)
        timing = {"pass_s": stats.median(passes), "samples": len(samples),
                  "query_p50_s": stats.median(samples)}
        if len(samples) > stats.TAIL_BEYOND:
            timing["query_tail_s"], timing["query_tail_percentile"] = stats.tail(samples)
        import duckdb
        import pyspark
        info = {
            "workload": self.w.name, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "sf": self.sf, "queries": list(self.w.queries),
            "passes": len(passes), **timing,
            "failed_frac": self.failed / max(1, self.attempted),
            "setup": {k: v for k, v in setup.items() if k != "setup_s"},
            "build_share": stats.median([b / p for b, p in zip(builds, passes) if p > 0]),
            "query_median_s": {q: stats.median(v) for q, v in self.latency.items() if v},
            "lake_mb": lake_bytes / MB, "wall": wall,
            "peak_rss_mb": sum(rss) / MB,
            "peak_rss_python_mb": rss[0] / MB, "peak_rss_jvm_mb": rss[1] / MB,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0], "commit": git_commit(),
            **{k: host[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                    "SPARK_LOCAL_DIRS")},
        }
        layers = None
        if per_pass:
            events = glob.glob(os.path.join(self.run_dir, "events", "*"))
            if len(events) != 1:
                raise RuntimeError(f"expected one event log, found {events}")
            with open(events[0]) as f:
                self.add_event_counters(per_pass, f)
            keys = {k for m in per_pass.values() for k in m}
            layers = {k: stats.median([m.get(k, 0.0) for m in per_pass.values()])
                      for k in keys}
            layers.update({k: setup[k] for k in (
                "session.build_s", "registry.load_s", "loader.cold_s", "warmup_s")})
        return {"info": info, "end_to_end": end_to_end, "layers": layers}

    # -- traced metrics --------------------------------------------------
    def span_metrics(self, n_passes: int) -> dict[int, dict[str, float]]:
        """Layer sums of each timed pass in which some query completed."""
        sp = self.tracer.spans
        batches = self.tracer.stream_batches()
        per_pass = {}
        for p in range(n_passes):
            m: dict[str, float] = defaultdict(float)
            for qid in self.w.queries:
                b = sp.get(self.label(qid, "build", p))
                x = sp.get(self.label(qid, "execute", p))
                if b is None or x is None or (p, qid) not in self.collect_s:
                    continue  # the query raised in this pass
                collect = self.collect_s[(p, qid)]
                m["build.s"] += b.seconds
                m["build.jobs"] += b.jobs
                m[f"{module_of(self.builders[qid])}.build_s"] += b.seconds
                if qid in BUILD_JOBS_OF:
                    m[f"{qid}.build_jobs"] += b.jobs
                m["execute.s"] += x.seconds
                m["execute.jobs"] += x.jobs
                m["execute.tasks"] += x.tasks
                m["transfer.s"] += stats.transfer(collect, x.seconds)
                m["transfer.rows"] += self.rows[(p, qid)]
                m["trace.pass_s"] += b.seconds + collect
                for secs in batches.get(self.label(qid, "build", p), ()):
                    m["streaming.batches"] += 1
                    m["streaming.batch_s"] += secs
            if m:
                per_pass[p] = m
        return per_pass

    def add_event_counters(self, per_pass: dict[int, dict[str, float]], lines) -> None:
        """Add each pass's event-log counters (build and execute spans; the
        collect re-runs the plan) and its layer shares."""
        import tracing
        groups = tracing.parse_event_log(lines)
        # stream jobs carry the stream's run id; credit them to its span
        for run_id, label in self.tracer.stream_span.items():
            if label and run_id in groups:
                groups.setdefault(label, tracing.GroupCounters()).add(groups.pop(run_id))
        for p, m in per_pass.items():
            stages, skew_stages = {}, {}
            for qid in self.w.queries:
                for layer in ("build", "execute"):
                    c = groups.get(self.label(qid, layer, p))
                    if c is None:
                        continue
                    for field, name in EVENT_COUNTERS.items():
                        m[name] += getattr(c, field)
                    stages.update(c.task_ms_by_stage)
                    if qid == SHUFFLE_OF:
                        m[f"{SHUFFLE_OF}.shuffle_write_bytes"] += c.shuffle_write_bytes
                    if qid == SKEW_OF:
                        skew_stages.update(c.task_ms_by_stage)
            m["task.skew"] = stats.task_skew(stages)
            m[f"{SKEW_OF}.task_skew"] = stats.task_skew(skew_stages)
            shares = stats.shares(m["build.s"], m["execute.s"], m["transfer.s"],
                                  m["trace.pass_s"])
            for layer, share in shares.items():
                m[f"{layer}.share"] = share


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"every workload at sf{SMOKE_SF} (the benchmark's own tests)")
    args = ap.parse_args(argv)
    try:
        engine = Engine()
    except EngineMissing as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    run = Run(engine, args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    try:
        out = run.execute()
    finally:
        for d in (run.run_dir, *lake_scratch_dirs(run.lake)):
            shutil.rmtree(d, ignore_errors=True)
    info, e2e, layers = out["info"], out["end_to_end"], out["layers"]
    print("# perfbench " + json.dumps(info), flush=True)
    if not run.trace:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        tail = (f"query_tail_s {info['query_tail_s']:.3f} s "
                f"(p{info['query_tail_percentile']:.0f} of {info['samples']})"
                if "query_tail_s" in info else "query_tail_s n/a")
        print(f"# end-to-end {info['workload']}: "
              + ", ".join(f"{k} {v:.3f} {END_TO_END_UNITS[k]}" for k, v in e2e.items())
              + f", pass_s {info['pass_s']:.3f} s"
              f", query_p50_s {info['query_p50_s']:.3f} s, {tail}, "
              f"failed_frac {info['failed_frac']:.3f} ({run.failed}/{run.attempted}), "
              f"peak_rss_mb {info['peak_rss_mb']:.1f} MB")
        print(f"# layers {info['workload']}: build {info['build_share']:.3f}, "
              f"execute + transfer {1 - info['build_share']:.3f} of pass "
              f"{info['pass_s']:.3f} s (--trace 1 splits execute from transfer)")
    else:
        units = per_layer_units()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        undeclared = ", ".join(f"{k} {layers.get(k, 0.0):.3f}" for k in sorted(
            {*layers, "streaming.batch_s", "task.failed"} - set(units)))
        print(f"# layers {info['workload']}: build {layers['build.share']:.3f} "
              f"execute {layers['execute.share']:.3f} transfer {layers['transfer.share']:.3f} "
              f"of traced pass {layers['trace.pass_s']:.3f} s; {undeclared}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
