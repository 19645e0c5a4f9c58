"""Smoke test of the benchmark itself, at smoke sizes (sf0.001 tables, a
few dozen forecast series).

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs the benchmark untraced and
traced and asserts that the last stdout line is the result object, that
every end-to-end (untraced) or per-layer (traced) metric named in
BENCHMARK.json is emitted with its unit, that every output check passed
(``error_rate`` 0) and that ``attempted`` is at least 1. It also asserts
that the benchmark exits non-zero without printing a result when the
package is not beside it. Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(wl, trace)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit "
                                f"{res.returncode}\n{res.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: error_rate "
                                f"{out['failed']}/{out['attempted']}\n"
                                + "\n".join(lines[:-1]))
            for m in spec[section]:
                got = out["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{wl} trace={trace}: metric "
                                    f"{m['name']} missing or wrong: {got}")
            extra = set(out["metrics"]) - {m["name"] for m in spec[section]}
            if extra:
                problems.append(f"{wl} trace={trace}: unlisted metrics "
                                f"{sorted(extra)}")
            print(f"{wl} trace={trace}: {len(out['metrics'])} metrics, "
                  f"{out['failed']}/{out['attempted']} failed", flush=True)
    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    for path in ["BENCHMARK.json"] + spec["paths"]:
        src = os.path.join(ROOT, path)
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(
            src, os.path.join(bare, path))
    res = _run(spec["workloads"][0]["name"], 0, cwd=bare)
    if res.returncode == 0 or res.stdout.strip():
        problems.append("benchmark without the package did not fail "
                        "cleanly")
    shutil.rmtree(bare, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} failed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
