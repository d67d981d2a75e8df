"""Migration benchmark entry point.

    python3 perfbench/run.py --workload sf0.001 --seed 1 --seconds 30 --trace 0

Run from the repository root.  Builds nothing: the engine is imported
from the checkout.  Everything the run writes (release fixtures, stores,
checkpoints, Spark scratch and event logs) goes under ``.bench_work/`` in
the checkout; the per-run directory is removed at the end, and traced
runs leave their span file under ``.bench_work/traces/``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it carries the
details (sample counts and median per op, the percentile the tail
metric used, every set-up's time, errors).
Exit code 1 when any oracle check fails, 2 when the engine cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"
# set-ups per run; ``setup_s`` is their median.  The first one starts the
# JVM, the others a new session in it.
SETUP_REPEATS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "migrate_s": "s",
    "rerun_from_patches_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
}

FAMILIES = ("migrate", "reads", "txn", "stream")
STEPS = ("install_schema", "dump_to_datoms", "merge_patches", "homol_split", "qa_report", "backup")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.peak_rss_mb": "MB",
    **{f"pipeline.step.{s}_s": "s" for s in STEPS},
    "ace.parse_s": "s",
    "ace.blocks": "count",
    "ace.records": "count",
    "ace.rejects": "count",
    "eav.typed_cast_s": "s",
    "eav.cast_null_frac": "fraction",
    "eav.as_of_s": "s",
    "datalog.build_s": "s",
    "datalog.query_s": "s",
    "datalog.join_s": "s",
    "datalog.pull_s": "s",
    "relational.qa_recount_s": "s",
    "txlog.merge_into_s": "s",
    "txlog.read_point_s": "s",
    "txlog.read_s": "s",
    "txlog.checkpoint_s": "s",
    "txlog.groups_read_frac": "fraction",
    "txlog.write_amp": "ratio",
    "txlog.log_versions": "count",
    "txlog.commit_retries": "count",
    "txlog.txn_tail_s": "s",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.state_commit_s": "s",
    "stream.state_rows": "count",
    "stream.outside_trigger_s": "s",
    "stream.import_round_s": "s",
    "stream.import_round_tail_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.output_mb": "MB",
    "spark.driver_gap_s": "s",
    **{
        f"{p}.spark.{c}": u
        for p in FAMILIES
        for c, u in (("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"), ("driver_gap_s", "s"))
    },
    "trace.overhead_s": "s",
    "migrate.reconcile_frac": "fraction",
}


def _configure_env(work: str) -> None:
    """Size the session for this host and keep every scratch file inside
    the run directory.  Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers (mapInPandas parse) import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir,
            }
        )
    return conf


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(samples: dict, setup_s: float) -> tuple[dict, dict]:
    from perfbench.workloads import tail

    reads = [x for k, xs in samples.items() if k.startswith("read.") for x in xs]
    value, pct, n = tail(reads)
    values = {
        "setup_s": setup_s,
        "migrate_s": _median(samples["migrate"]),
        "rerun_from_patches_s": _median(samples["rerun"]),
        "read_p50_s": _median(reads),
        "read_tail_s": value,
    }
    return values, {"read_tail_s": {"percentile": pct, "samples": n}}


def per_layer(run, tracer, session: dict) -> tuple[dict, dict, dict]:
    from perfbench.trace import SPARK_COUNTERS, attribute, read_event_log
    from perfbench.workloads import tail

    s, lay = run.samples, run.layer
    values = dict(session)
    for step in STEPS:
        values[f"pipeline.step.{step}_s"] = _median(lay[f"pipeline.step.{step}_s"])
    for k in ("ace.parse_s", "ace.blocks", "ace.records", "ace.rejects",
              "eav.typed_cast_s", "eav.cast_null_frac", "datalog.build_s",
              "txlog.groups_read_frac", "txlog.write_amp",
              "stream.trigger_s", "stream.add_batch_s", "stream.state_commit_s",
              "stream.state_rows", "stream.outside_trigger_s"):
        values[k] = _median(lay[k])
    for k, op in (("eav.as_of_s", "read.as_of"), ("datalog.query_s", "read.query"),
                  ("datalog.join_s", "read.join"), ("datalog.pull_s", "read.pull"),
                  ("relational.qa_recount_s", "read.qa_recount"),
                  ("txlog.merge_into_s", "txn.commit"), ("txlog.read_point_s", "txn.point"),
                  ("txlog.read_s", "txn.scan"), ("txlog.checkpoint_s", "txn.checkpoint")):
        values[k] = _median(s[op])
    values["txlog.log_versions"] = run.txn.latest_version() + 1
    values["txlog.commit_retries"] = run.layer_txn_retries
    values["txlog.txn_tail_s"] = tail([x for k, xs in s.items() if k.startswith("txn.") for x in xs])[0]
    values["stream.import_round_s"] = _median(s["stream.round"])
    values["stream.import_round_tail_s"] = tail(s["stream.round"])[0]

    spark_by_span = attribute(tracer, read_event_log(os.path.join(run.work, "eventlog")))
    by_name = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, sp)
    measure = by_name["measure"]
    for c in SPARK_COUNTERS:
        values[f"spark.{c}"] = spark_by_span[measure.span_id][c]
    for p in FAMILIES:
        for c in ("jobs", "tasks", "executor_run_s", "driver_gap_s"):
            values[f"{p}.spark.{c}"] = spark_by_span[by_name[p].span_id][c]
    values["trace.overhead_s"] = tracer.own_s

    # reconcile the measured migrations: the job time attributed to the
    # step spans by job group, plus the time no job of any owner ran,
    # should add up to the migration wall
    migr = [sp for sp in tracer.spans if sp.name == "migrate" and sp.parent is not None
            and tracer.spans[sp.parent].name == "migrate"]
    wall = sum(sp.wall for sp in migr)
    steps = [c for sp in migr for c in tracer.children(sp.span_id)]
    job_s = sum(spark_by_span[c.span_id]["jobs_covered_s"] for c in steps)
    gap_s = sum(sp.wall - spark_by_span[sp.span_id]["any_job_covered_s"] for sp in migr)
    values["migrate.reconcile_frac"] = (job_s + gap_s) / wall if wall else 0.0
    per_step: dict[str, dict] = {}
    for c in steps:
        agg = per_step.setdefault(c.name, {"wall_s": 0.0, **dict.fromkeys(SPARK_COUNTERS, 0.0)})
        agg["wall_s"] += c.wall
        for k in SPARK_COUNTERS:
            agg[k] += spark_by_span[c.span_id][k]
    slowest = max(per_step, key=lambda k: per_step[k]["wall_s"]) if per_step else None
    details = {
        "migrate_reconcile": {"wall_s": wall, "step_job_s": job_s, "driver_gap_s": gap_s},
        "slowest_step": {"name": slowest, **(per_step.get(slowest) or {})},
        "self_time_s": _self_times(tracer),
    }
    return values, details, spark_by_span


def _self_times(tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for sp in tracer.spans:
        out[sp.name] = out.get(sp.name, 0.0) + tracer.self_time(sp)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import db_migration_spark  # noqa: F401 - the engine must be in the checkout
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, ReleaseRun, session_layer
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(base, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    trace = bool(args.trace)

    from db_migration_spark.session import get_spark

    setups: list[float] = []
    spark = run = gateway_proc = None
    try:
        for k in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
                run.close()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=_spark_conf(work, trace))
            if k == 0:
                session_start_s = time.perf_counter() - t0
                gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(run_id=run_id, enabled=trace,
                            spark_context=spark.sparkContext if trace else None)
            run = ReleaseRun(spark, work, args.seed, WORKLOADS[args.workload], tracer)
            run.setup(os.path.join(work, f"release{k}"))
            setups.append(time.perf_counter() - t0)
        setup_s = statistics.median(setups)
        print(f"session up in {session_start_s:.1f}s, set-ups {[round(x, 2) for x in setups]}",
              file=sys.stderr)
        measure_s = run.measure(args.seconds)
        print(f"measured {measure_s:.1f}s", file=sys.stderr)
        if trace:
            run.layer_probes()
            session = session_layer(spark, session_start_s)
        else:
            values, details = end_to_end(run.samples, setup_s)
    finally:
        if spark is not None:
            spark.stop()
            if gateway_proc is not None:
                # the JVM exits when its stdin closes; wait so no process
                # outlives the run
                spark.sparkContext._gateway.shutdown()
                gateway_proc.stdin.close()
                try:
                    gateway_proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gateway_proc.kill()
                    gateway_proc.wait()

    if trace:
        values, details, by_span = per_layer(run, tracer, session)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{run_id}.json"), by_span)
        units = PER_LAYER_UNITS
    else:
        units = END_TO_END_UNITS
    shutil.rmtree(work, ignore_errors=True)
    print(f"[{time.strftime('%H:%M:%S')}] done", file=sys.stderr)

    details["setups_s"] = setups
    details["measure_s"] = measure_s
    details["ops"] = {k: len(v) for k, v in run.samples.items() if v}
    details["op_median_s"] = {k: _median(v) for k, v in run.samples.items() if v}
    details["errors"] = run.out.errors[:20]
    print(json.dumps({"details": details}))
    print(
        json.dumps(
            {
                "correct": run.out.correct,
                "attempted": run.out.attempted,
                "failed": run.out.failed,
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if run.out.correct else 1


if __name__ == "__main__":
    sys.exit(main())
