"""Where did a query's time go? Per-query profile of registry queries on
the benchmark's span tracer (perfbench/tracing.py).

Each query runs once warm, then once measured the way bench.py times it
(plan build + ``.count()``), as a build span (the query function: driver
Python, py4j round trips, eager per-round jobs) and an action span (the
count). Reported per query:

- ``wall_s``, ``build_s``, ``exec_s`` and py4j round trips;
- ``jobs``, ``tasks``, ``task_s``, ``shuffle_mb`` (read + write) and
  ``input_mb``;
- ``phases``: the measured jobs grouped by job description. Iterative
  operators label their rounds (``cc: round 3 hop+jump``); every other
  job carries the caller's ``<query>: measured`` label;
- ``top_stages``: the stages with the most task time, with max and p50
  task time (max >> p50 is a straggler);
- with ``--plans DIR``, the formatted plan of the measured DataFrame in
  ``DIR/<query>.txt``.

Spans, py4j counts and job attribution come from the tracer; job
descriptions and per-stage task metrics come from the Spark status store,
so nothing writes or parses an event log. ``mark``/``stage_stats`` give
scripts the same per-stage view of an arbitrary stretch of work.

Usage: python tools/profiler.py [--sf-dir DIR] [--out JSON] [--plans DIR] [query ...]
(``--sf-dir`` defaults to $SPARK_GRAFT_SF_DIR; queries to bench.HEADLINE)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _task_quantiles(spark, sd) -> tuple[float, float]:
    """(p50, max) task duration in seconds of one stage attempt."""
    sc = spark.sparkContext
    qs = sc._gateway.new_array(sc._jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(
        sd.stageId(), sd.attemptId(), qs
    )
    if summary.isEmpty():
        return 0.0, 0.0
    dur = summary.get().duration()
    return dur.apply(0) / 1e3, dur.apply(1) / 1e3


def job_rows(spark, job_ids) -> list[dict]:
    """One row per job: description, and the tasks, task-seconds and
    input MB of its stages that ran. A stage shared between jobs
    counts once, with the first job that lists it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    seen: set[int] = set()
    rows = []
    for jid in sorted(job_ids):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        desc = store.job(jid).description()
        row = {
            "desc": desc.get() if desc.isDefined() else None,
            "tasks": 0,
            "task_s": 0.0,
            "input_mb": 0.0,
            "stages": [],
        }
        for sid in sorted(set(info.stageIds) - seen):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the status store
                continue
            if str(sd.status()) != "COMPLETE":
                continue  # skipped: its output was reused
            seen.add(sid)
            row["stages"].append(sd)
            row["tasks"] += sd.numCompleteTasks()
            row["task_s"] += sd.executorRunTime() / 1e3
            row["input_mb"] += sd.inputBytes() / 1e6
        rows.append(row)
    return rows


def top_stages(spark, rows: list[dict], top_n: int = 5) -> list[dict]:
    """The ``top_n`` stages of ``rows`` by total task time, with task
    count and max/p50 task time. A balanced stage has max_s close to
    p50_s; a straggler shows as max_s >> p50_s."""
    stages = sorted(
        (sd for r in rows for sd in r["stages"]),
        key=lambda sd: -sd.executorRunTime(),
    )[:top_n]
    out = []
    for sd in stages:
        p50, mx = _task_quantiles(spark, sd)
        out.append(
            {
                "stage": sd.stageId(),
                "tasks": sd.numCompleteTasks(),
                "total_s": round(sd.executorRunTime() / 1e3, 2),
                "max_s": round(mx, 3),
                "p50_s": round(p50, 3),
            }
        )
    return out


def mark(spark) -> str:
    """Open a measurement window: the jobs run from here on carry a fresh
    job group, which ``stage_stats`` reads back."""
    group = f"profile-{uuid.uuid4().hex}"
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
    return group


def stage_stats(spark, since: str, top_n: int = 5) -> list[dict]:
    """``top_stages`` over the jobs run since ``mark`` returned ``since``."""
    jids = spark.sparkContext.statusTracker().getJobIdsForGroup(since)
    return top_stages(spark, job_rows(spark, jids), top_n)


def profile_query(spark, tracer, name: str, fn, sf_dir: str, plans=None):
    """One warm run of query ``fn``, then the measured run (module doc)."""
    sc = spark.sparkContext
    sc.setJobDescription(f"{name}: warm")
    fn(spark, sf_dir).count()
    sc.setJobDescription(f"{name}: measured")
    with tracer.span(f"{name}.build") as build:
        df = fn(spark, sf_dir)
    with tracer.span(f"{name}.exec", "action") as exe:
        df.count()
    sc.setJobDescription(None)
    tracer.collect_jobs(spark)
    # spans are closed: the status-store reads below count in no span
    tracker = sc.statusTracker()
    groups = (f"pb-{build.id}", f"pb-{exe.id}")
    rows = job_rows(spark, [j for g in groups for j in tracker.getJobIdsForGroup(g)])
    phases: dict[str, dict] = {}
    for r in rows:
        ph = phases.setdefault(
            r["desc"] or "(unlabelled)", {"jobs": 0, "tasks": 0, "task_s": 0.0}
        )
        ph["jobs"] += 1
        ph["tasks"] += r["tasks"]
        ph["task_s"] = round(ph["task_s"] + r["task_s"], 3)
    if plans:
        from timeseries_spark.session import explain

        with open(os.path.join(plans, f"{name}.txt"), "w") as f:
            f.write(explain(df))
    return {
        "wall_s": round(exe.end - build.start, 3),
        "build_s": round(build.end - build.start, 3),
        "exec_s": round(exe.end - exe.start, 3),
        "py4j": build.py4j + exe.py4j,
        "py4j_build": build.py4j,
        "jobs": build.jobs + exe.jobs,
        "tasks": build.tasks + exe.tasks,
        "task_s": round(build.task_s + exe.task_s, 2),
        "shuffle_mb": round(build.shuffle_mb + exe.shuffle_mb, 2),
        "input_mb": round(sum(r["input_mb"] for r in rows), 2),
        "phases": phases,
        "top_stages": top_stages(spark, rows),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="default: bench.HEADLINE")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--out", help="write all results to this JSON file")
    ap.add_argument("--plans", help="write each formatted plan here")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    from perfbench.tracing import Tracer
    from timeseries_spark.queries import all_queries
    from bench import HEADLINE
    from timeseries_spark.session import get_spark

    spark = get_spark("profile")
    registry = all_queries()
    wanted = args.queries or [n for n in HEADLINE if n in registry]
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    # same steady-state warmup as bench.py
    registry["assoc_novelty_yearly"](spark, args.sf_dir).count()
    tracer = Tracer(spark)
    results = {}
    for name in wanted:
        results[name] = profile_query(
            spark, tracer, name, registry[name], args.sf_dir, args.plans
        )
        print(json.dumps({name: results[name]}), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "queries": results}, f, indent=1)


if __name__ == "__main__":
    main()
