"""Run the benchmark over several seeds and workloads and print every
metric by name with its median, quartiles and spread.

    python3 perfbench/sweep.py                      # each workload once, seed 1, untraced and traced
    python3 perfbench/sweep.py --seeds 1-10 --no-trace

The workloads and the seconds per run are those of ``BENCHMARK.json``.
Workloads run round-robin within each seed, so a slow-host episode hits
all of them rather than one. Every run's output checks count: the sweep
exits 1 if any run reports ``correct: false``. Each run's result line is
also appended to ``.perfbench_work/sweep.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from common import WORK

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )  # fmt: skip
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        return {}, {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1", help="e.g. 1-10 or 3,5,8")
    p.add_argument("--no-trace", action="store_true", help="skip the traced runs")
    a = p.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    traces = (0,) if a.no_trace else (0, 1)

    values: dict[tuple[str, int, str], list[float]] = {}
    units: dict[str, str] = {}
    ok = True
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "sweep.jsonl"), "a") as log:
        for seed in seeds(a.seeds):
            for trace in traces:
                for w in workloads:
                    t = time.perf_counter()
                    detail, result = run(w, seed, bench["run_seconds"], trace)
                    wall = time.perf_counter() - t
                    log.write(json.dumps({"workload": w, "seed": seed, "trace": trace, "detail": detail, "result": result}) + "\n")
                    log.flush()
                    ok &= bool(result["correct"])
                    print(f"# {w} seed={seed} trace={trace} wall={wall:.1f}s correct={result['correct']} "
                          f"attempted={result['attempted']} failed={result['failed']} "
                          f"probe_s={[o['host']['probe_s'] for o in detail.get('operations', [])]}", flush=True)  # fmt: skip
                    for name, m in result["metrics"].items():
                        values.setdefault((w, trace, name), []).append(m["value"])
                        units[name] = m["unit"]

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'workload':16} {'metric':52} {'unit':8} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} bound")
    for (w, trace, name), xs in sorted(values.items()):
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name, "") if not trace else ""
        print(f"{w:16} {name:52} {units[name]:8} {len(xs):3} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
