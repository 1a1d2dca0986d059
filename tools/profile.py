#!/usr/bin/env python
"""Registry-wide profiler: run every registered query at one scale factor,
record where its time goes, and print a slowest-first table.

Per query: ``cold_s`` (first build + collect()), then the faster of two
warm runs split into layers: ``build_s``/``build_jobs`` (the builder call,
with the eager writes and checkpoint jobs many kernels run before they
return), ``execute_s`` (a noop-sink run), ``transfer_s`` (collect() minus
noop), ``warm_s`` (build + collect).  Spark's JSON event log gives that
run's ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_bytes`` and
``task_skew`` (slowest over median task, worst stage) for build and
execute (the collect re-runs the plan).  ``cold_compiles`` and
``warm_compiles`` count Janino compilations (Spark's CodegenMetrics) in the
cold and the kept warm run; a warm count above 0 means the codegen cache
thrashes or a kernel puts a per-call literal into generated code.  ``plan``
is plan_audit's fingerprint.  Each call runs in its own job group;
event-log groups outside every span are listed under ``unattributed`` and
fail the run.

j-family entries carry ~1-2 s of availableNow micro-batch setup; h06/b05/
h18-style full projections are transfer-bound; i22/i27/i59-style kernels
spend most of their time in build-time jobs, which no explain() shows.

Usage: python tools/profile.py [sf_dir] [prefix...]
Writes .scratch/profile.json.  Do NOT run concurrently with the test
suite, plan_audit, or t2_emulation at the same sf_dir (shared `.scratch/`
fixture layouts).
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # replace this script's own directory: on the path it would shadow the
    # standard library's `profile`, which cProfile (imported by pyspark) loads
    sys.path[0:1] = [REPO, os.path.join(REPO, "perfbench")]
    import stats  # perfbench/
    import tracing  # perfbench/
    from tools.plan_audit import count_smells


def profile_query(spark, tracer, name: str, q, sf_dir: str) -> tuple[dict, tuple]:
    """Run one query cold, then twice split into layers; returns its record
    plus the span labels of the faster warm run."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount
    c0 = compiles()
    with tracer.span(f"{name}/cold"):
        t0 = time.perf_counter()
        df = q(spark, sf_dir)
        plan = count_smells(df._jdf.queryExecution().executedPlan().toString())
        df.collect()
        cold = time.perf_counter() - t0
    cold_compiles = compiles() - c0
    # warm = min of two runs: 190+ queries share one long-lived context,
    # and accumulated shuffle/GC state can tax a single shot 3-5x (i06
    # measured 14 s mid-sweep vs 2.7 s isolated), paid with one extra run
    # instead of 193 session restarts
    runs = []
    for i in range(2):
        label = f"{name}/{{}}/{i}".format
        c0 = compiles()
        with tracer.span(label("build")):
            df = q(spark, sf_dir)
        with tracer.span(label("execute")):
            df.write.format("noop").mode("overwrite").save()
        with tracer.span(label("transfer")):
            df.collect()
        b, x, c = (tracer.spans[label(k)] for k in ("build", "execute", "transfer"))
        runs.append(({"cold_s": cold, "warm_s": b.seconds + c.seconds,
                      "build_s": b.seconds, "build_jobs": b.jobs,
                      "execute_s": x.seconds,
                      "transfer_s": stats.transfer(c.seconds, x.seconds),
                      "cold_compiles": cold_compiles,
                      "warm_compiles": compiles() - c0,
                      "plan": plan}, (label("build"), label("execute"))))
    return min(runs, key=lambda run: run[0]["warm_s"])


def add_event_counters(records: dict, counted: dict, tracer, lines) -> list[str]:
    """Add each record's event-log counters; returns the job groups that
    belong to no span."""
    groups = tracing.parse_event_log(lines)
    # stream jobs carry the stream's run id; credit them to its span
    for run_id, label in tracer.stream_span.items():
        if label and run_id in groups:
            groups.setdefault(label, tracing.GroupCounters()).add(groups.pop(run_id))
    for name, labels in counted.items():
        c = tracing.GroupCounters()
        for label in labels:
            c.add(groups.get(label, tracing.GroupCounters()))
        records[name].update(
            shuffle_read_bytes=c.shuffle_read_bytes,
            shuffle_write_bytes=c.shuffle_write_bytes,
            spill_bytes=c.spill_bytes,
            task_skew=stats.task_skew(c.task_ms_by_stage))
    return sorted(g for g in groups if g not in tracer.spans)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    prefixes = tuple(args[1:])

    from csv_to_parquet_aws_datalake_spark import registry
    from csv_to_parquet_aws_datalake_spark.session import build_session

    scratch = os.path.join(REPO, ".scratch")
    os.makedirs(scratch, exist_ok=True)
    events_dir = tempfile.mkdtemp(prefix="profile-events-", dir=scratch)
    # launch-time confs reach the JVM only through its submit arguments
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.eventLog.enabled": "true",
             "spark.eventLog.dir": "file://" + events_dir,
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [*(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()), "pyspark-shell"])
    wall0 = time.perf_counter()
    registry.load_all()
    spark = build_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(spark)

    records, counted, failed = {}, {}, []
    for name in sorted(registry.QUERIES):
        if prefixes and not name.startswith(prefixes):
            continue
        try:
            records[name], counted[name] = profile_query(
                spark, tracer, name, registry.QUERIES[name], sf_dir)
        except Exception as ex:  # keep sweeping; report at the end
            failed.append(name)
            print(f"{name}: ERROR {str(ex)[:140]}", file=sys.stderr)

    tracer.drain_listeners()
    tracer.close(spark)
    spark.stop()
    try:
        (log,) = glob.glob(os.path.join(events_dir, "*"))
        with open(log) as fh:
            stray = add_event_counters(records, counted, tracer, fh)
    finally:
        shutil.rmtree(events_dir, ignore_errors=True)
    if stray:
        print(f"jobs outside any query span, groups: {stray}", file=sys.stderr)

    rows = sorted(records.items(), key=lambda kv: -kv[1]["warm_s"])
    print(f"{'query':35s} {'cold_s':>7} {'warm_s':>7} {'build_s':>7} "
          f"{'jobs':>4} {'exec_s':>7} {'xfer_s':>7} {'c_comp':>6} {'w_comp':>6}")
    for name, r in rows:
        print(f"{name:35s} {r['cold_s']:7.2f} {r['warm_s']:7.2f} "
              f"{r['build_s']:7.2f} {r['build_jobs']:4d} {r['execute_s']:7.2f} "
              f"{r['transfer_s']:7.2f} {r['cold_compiles']:6d} {r['warm_compiles']:6d}")
    for name in failed:
        print(f"{name:35s} {'ERR':>7}")

    out = os.path.join(scratch, "profile.json")
    with open(out, "w") as fh:
        json.dump({"sf_dir": sf_dir, "wall_s": time.perf_counter() - wall0,
                   "failed": failed, "unattributed": stray, "queries": records},
                  fh, indent=1, sort_keys=True)
    return 1 if failed or stray else 0


if __name__ == "__main__":
    sys.exit(main())
elif __name__ == "profile":
    # A sibling script run from tools/ has this directory first on sys.path,
    # so `import profile` (cProfile's, and pyspark imports cProfile) lands
    # here: hand the import the standard library's module instead.
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(os.path.dirname(os.__file__), "profile.py"))
    sys.modules["profile"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sys.modules["profile"])
