"""Benchmark launcher: one workload run, from the root of a checkout.

    python3 perfbench/run.py --workload release_batch --seed 1 --seconds 15 --trace 0

Pins the run environment, starts ``perfbench/worker.py`` in a fresh run
directory under ``.perfbench_run/`` with its log captured, waits for it
(killing its whole process group on timeout or exit), copies the run's
summary to ``.perfbench_out/`` and prints two lines: a diagnostics object
(calibration probe before and after, pinned environment, per-pass
detail) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``.

Exits non-zero without a result line when the program is missing, the
worker fails, or the run exceeds its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("release_batch", "corpus_iterative")
TIMEOUT_S = 160  # plus at most 15 s to stop the group: under 180 s
# what the benchmark drives: the engine, the bench module whose calibration
# probe it reuses, and the oracle normalizer it checks corpus results with
PROGRAM = ("timeseries_spark/__init__.py", "bench.py", "tools/check_oracle.py")


def pinned_env(run_dir: Path) -> dict[str, str]:
    """The program's defaults do not fit a small box (``local[32]``, a 16g
    driver, a staging cache shared across runs under /tmp), so every run
    pins them, with all scratch space inside its own run directory. Two
    task threads: a run burns about three cores of CPU per task thread
    (Spark driver, JIT and GC threads), so two fit a 4-core machine."""
    cpus = min(2, len(os.sched_getaffinity(0)))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_GRAFT_STAGE_DIR": str(run_dir / "stage"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
        "TMPDIR": str(tmp),
        "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} "
                             f"-Djava.io.tmpdir={tmp}".strip(),
    })
    return env


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes in a process group."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def stop_group(pgid: int) -> None:
    """Terminate every process of the worker's group and wait for them."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the worker cleanup


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: damage one output after the last pass")
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files missing: {', '.join(missing)}",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = ROOT / ".perfbench_run" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cmd = [sys.executable, str(ROOT / "perfbench" / "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.corrupt:
        cmd.append("--corrupt")
    rc = None
    with open(run_dir / "worker.log", "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=pinned_env(run_dir), stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        finally:
            stop_group(proc.pid)
            proc.wait()
    try:
        if rc != 0:
            tail = (run_dir / "worker.log").read_text(errors="replace")
            print(tail[-4000:], file=sys.stderr)
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        summary = json.loads((run_dir / "summary.json").read_text())
        result = json.loads((run_dir / "result.json").read_text())
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"{tag}.json").write_text(json.dumps(summary, indent=1))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    diag = {k: summary[k] for k in (
        "calibration_before_s", "calibration_after_s", "setup_reps_s", "timeline_s",
        "env")}
    diag["passes"] = [
        {k: p[k] for k in ("pass", "traced", "wall_s", "cpu_s", "steal_s", "warn_lines",
                            "mismatch")
         if k in p}
        for p in summary["passes"]
    ]
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
