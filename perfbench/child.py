"""One operation of the benchmark: a fresh Python process that builds
the Spark session and runs one deployed job once, the way
``spark-submit jobs/<job>.py`` does.

    python3 perfbench/child.py --workload validate-full --fixture DIR \
        --run-dir DIR --py-files ZIP --result FILE [--trace]

It writes FILE as JSON: ``ready`` (epoch seconds when the session was
ready), ``job_s`` (wall time of the job's ``run()``), ``rc`` (its exit
code), ``error`` (a traceback, or null) and, with ``--trace``, ``layers``
(the per-layer metrics of ``spans.py``). The job's stdout goes to
``<run-dir>/stdout.txt`` for the output checks.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

from common import ROOT

WORKLOADS = {  # workload: (job module, Spark app name)
    "validate-full": ("validate", "sgb-validate"),
    "certify-target": ("validate", "sgb-validate"),
    "transform-clean": ("transform", "sgb-transform"),
}
CERTIFY_BP = "1000"  # a 10% sample: ~2,000 turns per day, as 1% gives at 2M turns


def job_argv(workload: str, fixture: str, run_dir: str) -> list[str]:
    full = f"{fixture}/full"
    if workload == "transform-clean":
        return [
            "--turns", f"{full}/turns",
            "--out", f"{run_dir}/out/turns_clean",
            "--manifest", f"{run_dir}/out/manifest.json",
        ]  # fmt: skip
    turns = f"{fixture}/certify/turns" if workload == "certify-target" else f"{full}/turns"
    argv = [
        "--turns", turns,
        "--conversations", f"{full}/conversations",
        "--allowed-tools", f"{full}/allowed_tools",
        "--baseline-stats", f"{full}/baseline_stats",
        "--out", f"{run_dir}/out",
        "--ledger", f"{run_dir}/ledger",
    ]  # fmt: skip
    if workload == "certify-target":
        argv += ["--certify-bp", CERTIFY_BP, "--certify-target"]
    return argv


def main() -> None:
    p = argparse.ArgumentParser(description="run one deployed job once")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--fixture", required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--py-files", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--trace", action="store_true")
    a = p.parse_args()
    sys.path.insert(0, ROOT)
    module, app = WORKLOADS[a.workload]
    conf = {"spark.submit.pyFiles": a.py_files}
    tracer = None
    if a.trace:
        import spans

        tracer = spans.Tracer(a.workload, a.run_dir)
        conf.update(tracer.spark_conf())
        tracer.install()

    from sgb_data_validator_spark import session

    out: dict = {"error": None}
    spark = None
    try:
        t = time.perf_counter()
        spark = session.get_spark(app_name=app, extra_conf=conf)
        out["get_spark_s"] = time.perf_counter() - t
        out["ready"] = time.time()
        job = __import__(f"jobs.{module}", fromlist=["run"])
        args = job.parse_args(job_argv(a.workload, a.fixture, a.run_dir))
        with open(os.path.join(a.run_dir, "stdout.txt"), "w") as fh, contextlib.redirect_stdout(fh):
            job_start, t = time.time(), time.perf_counter()
            out["rc"] = job.run(spark, args)
            out["job_s"] = time.perf_counter() - t
        if tracer is not None:
            tracer.force_layers()
            spark.stop()
            spark = None
            out["layers"] = tracer.report(job_start, out["job_s"], out["get_spark_s"])
    except Exception:
        out["error"] = traceback.format_exc()
    finally:
        if spark is not None:
            spark.stop()
    with open(a.result, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
