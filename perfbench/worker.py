"""One benchmark run in a fresh process: set up, measure, check, report.

Started by ``perfbench/run.py`` with the run environment already pinned
and the working directory set to a fresh run directory. Writes
``result.json`` (the contract line) and ``summary.json`` (diagnostics,
per-layer detail, spans) there; prints nothing the launcher relies on.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

SETUP_REPS = 3
CALIBRATION_REPS = 3

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
COUNT_FIELDS = {"py4j": "count", "jobs": "count", "tasks": "count", "shuffle_mb": "MB"}
RELEASE_LAYERS = ("operators.dating", "operators.ontology", "operators.scoring",
                  "analytics")
CORPUS_LAYERS = ("queries.bpe_merges", "queries.logreg_quality_train")
# per-layer metrics of the traced run: times only for what both workloads
# exercise, counts for every layer (0 where a workload does not run it)
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "sources.files_written": "count",
    "jvm.gc_s": "s",
    "log.warn_lines": "count",
    "trace.overhead_s": "s",
    "pass.cpu_s": "s",
    "pass.build_s": "s",
    "pass.exec_s": "s",
    "pass.task_s": "s",
    "pass.py4j": "count",
    "pass.jobs": "count",
    "pass.tasks": "count",
    "pass.shuffle_mb": "MB",
    **{f"{layer}.{field}": unit for layer in RELEASE_LAYERS + CORPUS_LAYERS
       for field, unit in COUNT_FIELDS.items()},
    "operators.ontology.fanout": "ratio",
    "operators.novelty.py4j": "count",
    "plans.point.py4j": "count",
    "plans.point.jobs": "count",
    "plans.point.files_read": "count",
    "plans.incremental.py4j": "count",
    "plans.incremental.jobs": "count",
    "plans.incremental.touched_frac": "ratio",
}


# --- process-tree accounting (Linux /proc) ---------------------------------

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of this process and every live descendant, per
    thread, leaving out the JVM's JIT compiler threads: on a fresh JVM they
    burn about half of all CPU, and how much of it lands in a given pass
    is timing noise, not work the program does."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm, fields = stat.rsplit(")", 1)
            if comm.split("(", 1)[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                continue
            fields = fields.split()
            total += int(fields[11]) + int(fields[12])
    return total / ticks


def tree_peak_rss_mb() -> float:
    """Sum of each live tree member's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat);
    a diagnostic of noisy neighbours, never a normaliser."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class WarnCounter:
    """WARN lines the run has logged so far, read from where the last call
    stopped."""

    def __init__(self, path: str):
        self.path, self.offset, self.count = path, 0, 0

    def __call__(self) -> int:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self.count += sum(1 for line in data[:end].splitlines() if b" WARN " in line)
        self.offset += end
        return self.count


# --- helpers ---------------------------------------------------------------

def gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def write_calibration_table(path: str) -> None:
    """A fixed lineitem-shaped table for ``bench._calibration_once``. It
    never changes with the workload seed, so the probe measures the box,
    not the inputs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    i = np.arange(60_000)
    os.makedirs(path)
    pq.write_table(pa.table({
        "l_returnflag": np.array(["A", "N", "R"])[i % 3],
        "l_linestatus": np.where(i % 2 == 0, "O", "F"),
        "l_quantity": (i % 50 + 1).astype(np.float64),
        "l_extendedprice": (i % 9973) * 1.5,
    }), f"{path}/lineitem.parquet")


def calibrate(spark, path: str) -> float:
    from bench import _calibration_once

    return statistics.median(
        _calibration_once(spark, path) for _ in range(CALIBRATION_REPS))


def layer_rollup(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer name: build/exec seconds, self py4j calls, jobs, tasks,
    task-seconds, shuffle MB, over the given spans."""
    child_py4j: dict[int, int] = {}
    for s in spans:
        if s["parent"] is not None:
            child_py4j[s["parent"]] = child_py4j.get(s["parent"], 0) + s["py4j"]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        m = out.setdefault(s["name"], dict.fromkeys(
            ("build_s", "exec_s", "py4j", "jobs", "tasks", "task_s", "shuffle_mb"), 0))
        wall = s["end"] - s["start"]
        if s["kind"] == "build":
            m["build_s"] += wall
        elif s["kind"] == "action":
            m["exec_s"] += wall
        m["py4j"] += s["py4j"] - child_py4j.get(s["id"], 0)
        for k in ("jobs", "tasks", "task_s", "shuffle_mb"):
            m[k] += s[k]
    return out


# --- the run ---------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    run_dir = os.getcwd()

    from perfbench.corpus import CorpusIterative
    from perfbench.release import ReleaseBatch
    from perfbench.tracing import NullTracer, Tracer
    from timeseries_spark.session import get_spark

    workloads = {"release_batch": ReleaseBatch, "corpus_iterative": CorpusIterative}
    wl = workloads[args.workload](args.seed)
    null = NullTracer()
    conf = {
        "spark.sql.warehouse.dir": f"{run_dir}/spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
    }

    # set-up, several times: rep 0 counts from process start (imports and
    # JVM launch); later reps restart the SparkContext in the same JVM
    setup_s, gen_s, write_s = [], [], []
    session_start_s = 0.0
    spark = None
    for rep in range(SETUP_REPS):
        t0 = T_START if rep == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench", extra_conf=conf)
        if rep == 0:
            session_start_s = time.perf_counter() - T_START
        in_dir = f"{run_dir}/in{rep}"
        os.makedirs(in_dir)
        inputs = wl.setup(spark, in_dir)
        setup_s.append(time.perf_counter() - t0)
        gen_s.append(inputs["gen_s"])
        write_s.append(inputs["write_s"])

    timeline = {"setup_end": time.perf_counter() - T_START}
    tracer = Tracer(spark) if args.trace else null
    warns = WarnCounter(f"{run_dir}/worker.log")
    write_calibration_table(f"{run_dir}/calib")
    calib_before = calibrate(spark, f"{run_dir}/calib")

    passes: list[dict] = []

    def one_pass(traced: bool) -> dict:
        i = len(passes)
        tr = tracer if traced else null
        first_span = len(tracer.spans) if args.trace else 0
        # every pass starts from a collected heap on both sides of py4j, so
        # garbage of earlier passes and set-ups is not billed to this one
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        warn0 = warns()
        gc0 = gc_s(spark) if args.trace else 0.0
        calls0 = tracer.py4j.calls if args.trace else 0
        cpu0, steal0 = tree_cpu_s(), steal_s()
        t0 = time.perf_counter()
        rec = {"pass": i, "traced": traced, "out": f"{run_dir}/out{i}"}
        try:
            with tr.span("pass", "stage"):
                rec["results"] = wl.run_pass(spark, tr, inputs, rec["out"])
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            error = traceback.format_exc()
            print(error, file=sys.stderr)
            rec["error"] = error.strip().splitlines()[-1]
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["steal_s"] = steal_s() - steal0
        rec["warn_lines"] = warns() - warn0
        if args.trace:
            with tracer.py4j.paused():
                rec["py4j"] = tracer.py4j.calls - calls0
                rec["gc_s"] = gc_s(spark) - gc0
                tracer.collect_jobs(spark)
            rec["first_span"], rec["last_span"] = first_span, len(tracer.spans)
        passes.append(rec)
        return rec

    timeline["calibration_end"] = time.perf_counter() - T_START
    cold = one_pass(traced=bool(args.trace))
    timeline["cold_end"] = time.perf_counter() - T_START
    # steady passes until the next one would end past --seconds. Traced
    # runs alternate untraced/traced passes, at least untraced, traced,
    # untraced: the traced pass against the mean of its two neighbours is
    # the tracing overhead, without the warm-up drift between passes
    min_steady = 3 if args.trace else 1
    window0 = time.perf_counter()
    steady: list[dict] = []
    while True:
        rec = one_pass(traced=bool(args.trace) and len(steady) % 2 == 1)
        steady.append(rec)
        elapsed = time.perf_counter() - window0
        if len(steady) >= min_steady and elapsed + rec["wall_s"] > args.seconds:
            break
    timeline["steady_end"] = time.perf_counter() - T_START

    # output checks, off the clock: each pass against the workload's own
    # checks and against the first pass, so every pass must reproduce it
    ok = [p for p in passes if "error" not in p]
    if args.corrupt and ok:
        wl.corrupt(spark, ok[-1]["out"], ok[-1]["results"])
    ops = len(wl.OPS) * len(passes)
    failed = len(wl.OPS) * (len(passes) - len(ok))
    paused = tracer.py4j.paused() if args.trace else contextlib.nullcontext()
    with paused:
        digests = wl.digests(spark, [(p["out"], p["results"]) for p in ok])
    for p, dig in zip(ok, digests):
        bad = set(wl.check(dig))
        bad |= {k for k in digests[0] if dig.get(k) != digests[0][k]}
        p["digests"], p["mismatch"] = dig, sorted(bad)
        failed += len(bad)
    timeline["check_end"] = time.perf_counter() - T_START

    serve_counts: dict = {}
    serve_from = len(tracer.spans) if args.trace else 0
    traced_pass = steady[1] if args.trace else {}
    if "results" in traced_pass:
        try:
            s_ops, s_failed, serve_counts = wl.serve_probe(
                spark, tracer, traced_pass["results"], traced_pass["out"])
        except Exception:  # noqa: BLE001 — counted as one failed op
            print(traceback.format_exc(), file=sys.stderr)
            s_ops, s_failed = 1, 1
        ops += s_ops
        failed += s_failed
        with tracer.py4j.paused():
            tracer.collect_jobs(spark)

    calib_after = calibrate(spark, f"{run_dir}/calib")
    peak_rss = tree_peak_rss_mb()
    spark.stop()
    timeline["stop_end"] = time.perf_counter() - T_START

    untraced = [p for p in steady if not p["traced"]]
    cpu_s = statistics.median(p["cpu_s"] for p in untraced)
    e2e = {
        "setup_s": statistics.median(setup_s),
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in untraced),
        "peak_rss_mb": peak_rss,
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "calibration_before_s": calib_before, "calibration_after_s": calib_after,
        "setup_reps_s": setup_s, "end_to_end": e2e, "cpu_s": cpu_s,
        "timeline_s": timeline,
        "passes": [{k: v for k, v in p.items() if k not in ("results", "out")}
                   for p in passes],
        "env": {k: os.environ.get(k) for k in sorted(os.environ)
                if k.startswith(("SPARK_", "OMP_", "OPENBLAS_", "MKL_", "PYTHONHASHSEED"))},
    }
    if args.trace:
        spans = tracer.to_json()
        layers = layer_rollup(spans[traced_pass["first_span"]:traced_pass["last_span"]])
        unattributed = layers.pop("pass")  # pass-level reads outside any layer
        fields = ("task_s", "jobs", "tasks", "shuffle_mb")
        metrics = {
            "session.start_s": session_start_s,
            "sources.gen_s": statistics.median(gen_s),
            "sources.write_s": statistics.median(write_s),
            "sources.write_mb": 0.0,
            "sources.files_written": 0,
            "jvm.gc_s": traced_pass["gc_s"],
            "log.warn_lines": traced_pass["warn_lines"],
            "trace.overhead_s": traced_pass["wall_s"]
            - (steady[0]["wall_s"] + steady[2]["wall_s"]) / 2,
            "pass.build_s": sum(v["build_s"] for v in layers.values()),
            "pass.exec_s": sum(v["exec_s"] for v in layers.values()),
            "pass.cpu_s": cpu_s,
            "pass.py4j": traced_pass["py4j"],
            **{f"pass.{f}": unattributed[f] + sum(v[f] for v in layers.values())
               for f in fields},
            **wl.layer_counts(traced_pass.get("digests", {}), traced_pass["out"]),
            **serve_counts,
        }
        # the serving probe's layers run after the pass, outside its totals
        layers.update({k: v for k, v in layer_rollup(spans[serve_from:]).items()
                       if k.startswith("plans.")})
        for name in PER_LAYER:
            layer, _, field = name.rpartition(".")
            metrics.setdefault(name, layers.get(layer, {}).get(field, 0))
        summary["layers"] = layers
        summary["spans"] = spans
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    result = {"correct": failed == 0, "attempted": ops, "failed": failed,
              "metrics": out_metrics}
    with open(f"{run_dir}/summary.json", "w") as f:
        json.dump(summary, f, indent=1, default=str)
    with open(f"{run_dir}/result.json", "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
