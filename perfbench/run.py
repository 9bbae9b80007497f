"""End-to-end benchmark of the deployed jobs (see perfbench/README.md).

    python3 perfbench/run.py --workload validate-full --seed 1 --seconds 20 --trace 0

Each operation is a fresh process (``child.py``) that builds the Spark
session and runs ``jobs/validate.run`` or ``jobs/transform.run`` once
over a seeded, cached fixture (``fixture.py``); its outputs are checked
against the fixture's expected values. Operations repeat until
``--seconds`` have passed (at least one). The last stdout line is the
result: end-to-end metrics (medians over the operations) with
``--trace 0``; with ``--trace 1`` one more, traced operation follows and
the per-layer metrics of ``spans.py`` are reported instead. The line
before it holds the host context, every operation's values and the
quartiles.
"""

from __future__ import annotations

import argparse
import csv
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

from child import WORKLOADS
from common import N_TURNS, ORACLE, PACKAGE, PROGRAM_FILES, ROOT, WORK, child_env, dir_bytes, engine_zip, tree_hash
from spans import METRICS

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_OPS = 1
MAX_WALL_S = 150  # start no operation that could end past this


# -- host context -----------------------------------------------------------


def steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def probe_s() -> float:
    """A fixed single-thread workload; its time tracks host speed."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t


def host_context() -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    program = tree_hash(os.path.join(ROOT, PACKAGE)) + tree_hash(os.path.join(ROOT, "jobs"))
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"nproc": os.cpu_count(), "git_sha": sha, "program_sha": program[:16], "loadavg": load}


# -- fixtures ---------------------------------------------------------------


def fixture_stamp(dest: str) -> str:
    """Hash of a built fixture's files and of the sources that made it
    (the generator and the oracle), so that a change to either forces a
    rebuild."""
    h = hashlib.sha256()
    for src in (os.path.join(HERE, "fixture.py"), os.path.join(ROOT, ORACLE)):
        with open(src, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(tree_hash(dest, skip=("hash.txt",)).encode())
    return h.hexdigest()


def ensure_fixture(seed: int) -> tuple[str, dict]:
    """The fixture for (seed, N_TURNS), rebuilt unless its recorded stamp
    matches the files and their sources."""
    dest = os.path.join(WORK, "fixtures", f"s{seed}-n{N_TURNS}")
    stamp = os.path.join(dest, "hash.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == fixture_stamp(dest):
                with open(os.path.join(dest, "expected.json")) as fh:
                    return dest, json.load(fh)
    shutil.rmtree(dest, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "fixture.py"), "--seed", str(seed), "--turns", str(N_TURNS), "--dest", dest],
        check=True,
        cwd=WORK,
        timeout=120,
    )
    with open(stamp, "w") as fh:
        fh.write(fixture_stamp(dest))
    with open(os.path.join(dest, "expected.json")) as fh:
        return dest, json.load(fh)


# -- one operation ----------------------------------------------------------


class TreeMemory(threading.Thread):
    """Peak memory of a process tree: polls /proc every 0.2 s and keeps
    the largest sum of proportional resident sizes (Pss, which splits
    pages shared between forked Python workers among them). A process
    counts from its second poll on: a child the JVM has vforked but not
    yet exec'd shares the JVM's address space, and counting it would
    count the JVM twice."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb, self.done = pid, 0, threading.Event()

    def tree(self) -> set[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                children.setdefault(ppid, []).append(int(name))
        seen, todo = set(), [self.pid]
        while todo:
            p = todo.pop()
            seen.add(p)
            todo += children.get(p, [])
        return seen

    def run(self) -> None:
        seen: set[int] = set()
        while not self.done.wait(0.2):
            total = 0
            tree = self.tree()
            for pid in tree & seen:
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as fh:
                        total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
                except (OSError, StopIteration):
                    pass
            self.peak_kb = max(self.peak_kb, total)
            seen = tree

    def peak_mb(self) -> float:
        self.done.set()
        self.join()
        return self.peak_kb / 1024


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the operation's process group (the JVM and
    Python workers outlive a killed parent) and wait until it is gone."""
    for _ in range(100):
        alive = False
        for name in os.listdir("/proc"):
            try:
                alive |= name.isdigit() and os.getpgid(int(name)) == proc.pid
            except OSError:
                pass
        if not alive:
            break
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except OSError:
            pass
        time.sleep(0.1)
    proc.wait()


def operation(workload: str, fixture: str, expected: dict, pyfiles: str, trace: bool) -> dict:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    host = {"probe_s": probe_s()}
    steal0 = steal_s()
    with open(os.path.join(WORK, "child.log"), "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), "--workload", workload, "--fixture", fixture,
             "--run-dir", run_dir, "--py-files", pyfiles, "--result", result] + (["--trace"] if trace else []),
            cwd=run_dir, env=child_env(), stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )  # fmt: skip
        mem = TreeMemory(proc.pid)
        mem.start()
        try:
            proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            pass
    peak = mem.peak_mb()
    stop_group(proc)
    host["steal_s"] = steal_s() - steal0
    try:
        with open(result) as fh:
            r = json.load(fh)
    except (OSError, ValueError):
        r = {"error": f"child exited {proc.returncode} without a result (see {WORK}/child.log)"}
    op = {"host": host, "problems": [r["error"]] if r.get("error") else []}
    if not op["problems"]:
        out_paths = [os.path.join(run_dir, d) for d in ("out", "ledger", "ledger_sketches")]
        op.update(
            job_s=r["job_s"],
            setup_s=r["ready"] - spawn,
            out_mb=dir_bytes(*out_paths) / 2**20,
            peak_rss_mb=peak,
            layers=r.get("layers"),
        )
        try:
            op["problems"] = check(workload, run_dir, r["rc"], expected)
        except Exception as exc:  # unreadable or missing output counts as a mismatch
            op["problems"] = [f"output check failed: {exc!r}"]
    return op


# -- output checks ----------------------------------------------------------


def _parts_table(path: str, *cols: str) -> list[tuple]:
    t = pq.read_table(path, columns=list(cols))
    return list(zip(*(map(str, t.column(c).to_pylist()) for c in cols)))


def check(workload: str, run_dir: str, rc: int, exp: dict) -> list[str]:
    """Compare the operation's outputs with the fixture's expected values;
    every mismatch is one problem string."""
    problems: list[str] = []

    def expect(what: str, got, want) -> None:
        if got != want:
            problems.append(f"{what}: got {got!r}, want {want!r}")

    out = os.path.join(run_dir, "out")
    if workload == "transform-clean":
        expect("exit code", rc, 0)
        with open(os.path.join(out, "manifest.json")) as fh:
            manifest = json.load(fh)
        want = exp["transform"]
        expect("manifest rows", manifest["rows"], want["rows"])
        expect("manifest changed_rows", manifest["changed_rows"], want["changed_rows"])
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{out}/turns_clean/*/*.parquet"))
        expect("rows out", rows, exp["full"]["turns"])
        return problems

    want = exp["certify"] if workload == "certify-target" else exp["full"]
    expect("exit code", rc, 1)
    summary: dict[str, int] = {}
    for f in glob.glob(f"{out}/summary_csv/*.csv"):
        with open(f) as fh:
            summary.update({r["rule_id"]: int(r["n"]) for r in csv.DictReader(fh)})
    expect("summary_csv rule counts", summary, want["rule_counts"])
    expect("verdicts", dict(_parts_table(f"{out}/verdicts", "part", "status")), want["verdicts"])
    expect("ledger", dict(_parts_table(f"{run_dir}/ledger", "part", "status")), want["verdicts"])
    if workload == "certify-target":
        with open(os.path.join(run_dir, "stdout.txt")) as fh:
            lines = [ln.split("\t") for ln in fh if ln.startswith("certify\t")]
        bad = exp["bad_part"]
        expect("NOT-CERTIFIED parts", sorted(p for _, p, s in lines if s.startswith("NOT-CERTIFIED")), [bad])
        certified = sorted(p for _, p, s in lines if s.startswith("CERTIFIED"))
        expect("CERTIFIED parts", certified, [p for p in want["parts"] if p != bad])
    return problems


# -- the run ----------------------------------------------------------------


def quartiles(xs: list[float]) -> dict:
    if len(xs) == 1:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": 1}
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs)}


UNITS = {"job_s": "s", "turns_per_s": "turns/s", "setup_s": "s", "out_mb": "MB", "peak_rss_mb": "MB", "ok_share": "ratio"}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"program not found next to the benchmark: {missing}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    fixture, expected = ensure_fixture(a.seed)
    pyfiles = engine_zip()
    turns = expected["certify" if a.workload == "certify-target" else "full"]["turns"]
    host = host_context()

    ops: list[dict] = []
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        ops.append(operation(a.workload, fixture, expected, pyfiles, trace=False))
        now = time.perf_counter()
        if len(ops) >= MIN_OPS and (now - start >= a.seconds or now - start + (now - t) > MAX_WALL_S):
            break
    traced = operation(a.workload, fixture, expected, pyfiles, trace=True) if a.trace else None

    good = [o for o in ops if not o["problems"]]
    failed = sum(1 for o in ops + ([traced] if traced else []) if o["problems"])
    attempted = len(ops) + (1 if traced else 0)
    per_op = {k: [o[k] for o in good] for k in ("job_s", "setup_s", "out_mb", "peak_rss_mb")}
    per_op["turns_per_s"] = [turns / o["job_s"] for o in good]
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "turns": turns,
        "host": host,
        "operations": [{k: o.get(k) for k in ("host", "job_s", "setup_s", "out_mb", "peak_rss_mb", "problems")} for o in ops],
        "fail_share": failed / attempted,
        "end_to_end": {k: quartiles(v) for k, v in per_op.items() if v},
    }
    metrics: dict = {}
    if a.trace:
        detail["traced"] = {k: traced.get(k) for k in ("host", "job_s", "problems")}
        if traced.get("layers") and per_op["job_s"]:
            layers = dict(traced["layers"])
            layers["bench.trace_overhead_s"] = traced["job_s"] - statistics.median(per_op["job_s"])
            metrics = {k: {"value": v, "unit": METRICS[k]} for k, v in sorted(layers.items())}
    elif good:
        med = {k: statistics.median(v) for k, v in per_op.items()}
        med["ok_share"] = 1 - failed / attempted
        metrics = {k: {"value": med[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
