"""Self-test of the benchmark, from the root of a checkout:

    python3 perfbench/selftest.py [workload ...]

For each workload, on a seed no other run uses, with a one-second window
(one cold and one steady pass):

- an untraced run prints every end-to-end metric of BENCHMARK.json, with
  its unit, and its checks pass;
- a traced run prints every per-layer metric, with its unit, and its
  checks pass;
- the untraced and the traced run produced the same output digests;
- a run that damages one output after its last pass counts it as a
  failed op and reports ``correct: false``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEED = 424242


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace)] + (["--corrupt"] if corrupt else [])
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=400)
    check(proc.returncode == 0,
          f"{' '.join(cmd[1:])} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def digests(workload: str, trace: int) -> list:
    summary = json.loads(
        (ROOT / ".perfbench_out" / f"{workload}-s{SEED}-t{trace}.json").read_text())
    return [p["digests"] for p in summary["passes"]]


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for wl in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            tag = f"{wl} --trace {trace}"
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result keys {sorted(res)}")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{tag}: checks failed: {res['failed']}/{res['attempted']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: metrics/units differ: "
                  f"missing {sorted(set(want) - set(got))}, "
                  f"extra {sorted(set(got) - set(want))}, "
                  f"units {[k for k in want if k in got and got[k] != want[k]]}")
            check(all(isinstance(v["value"], (int, float))
                      for v in res["metrics"].values()), f"{tag}: non-numeric value")
        untraced, traced = digests(wl, 0), digests(wl, 1)
        check(all(d == untraced[0] for d in untraced + traced),
              f"{wl}: output digests differ between passes or traced/untraced runs")
        res = run(wl, 0, corrupt=True)
        check(not res["correct"] and res["failed"] >= 1,
              f"{wl}: a damaged output was not counted as failed: {res}")
        print(f"selftest ok: {wl}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
