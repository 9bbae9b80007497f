"""The traced operation: spans around the layer calls of the deployed
jobs, attributed to Spark's own stage metrics through the event log.

Spans are recorded by replacing module attributes that the jobs' ``run()``
looks up at call time, so the engine itself is unchanged. Each span sets
the Spark job description to its own id; every stage submitted under it
carries that id in the event log, which gives the span's executor CPU,
GC, shuffle, spill and input bytes. Functions that return a lazy frame
(the certificate, the ledger sketches, the transform chain) keep their
span open for the action the job then runs on the frame.

After the job, the session is still live and the benchmark forces each
check family's public function, and the transform's two text-function
layers, on their own with a ``noop`` write (never ``count()``, which
lets the optimizer prune the work). These runs follow the job in the
same process, so they exclude its first-run JIT cost.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import time

MB = 2**20

# metric name -> unit; every name here is reported on every workload,
# as 0 where the workload does not use the layer
FAMILIES = (
    "operators.rules",
    "operators.uniqueness",
    "operators.windows.opening_role",
    "operators.windows.sequence",
    "operators.referential.orphans",
    "operators.referential.zero_children",
    "operators.drift",
    "operators.stats.column_stats",
)
SINKS = ("write_violations", "write_verdicts", "write_summary_csv", "write_pivot_csv", "write_stats", "write_spc_csv")
METRICS: dict[str, str] = {
    "session.get_spark.wall_s": "s",
    "sources.catalog.read_table.wall_s": "s",
    **{f"plans.pipeline.materialize.{k}": u for k, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
        ("gc_s", "s"), ("spill_mb", "MB"), ("input_mb", "MB"))},
    "plans.pipeline.fact_scans": "count",
    "plans.pipeline.exchanges": "count",
    **{f"{f}.{k}": u for f in FAMILIES for k, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"), ("violations", "count"))},
    "operators.certify.by_part.wall_s": "s",
    "operators.certify.by_part.cpu_s": "s",
    "operators.certify.by_part.input_mb": "MB",
    "jobs.validate.spark_jobs": "count",
    "jobs.validate.unattributed_s": "s",
    "sources.sinks.write_all.wall_s": "s",
    "sources.sinks.write_all.cpu_s": "s",
    **{f"sources.sinks.{s}.wall_s": "s" for s in SINKS},
    "sources.ledger.sketches.wall_s": "s",
    "sources.ledger.sketches.cpu_s": "s",
    "sources.ledger.record.wall_s": "s",
    "sources.ledger.sketch_store.wall_s": "s",
    "functions.vectorized.entities_nfc.wall_s": "s",
    "functions.vectorized.entities_nfc.cpu_s": "s",
    "functions.vectorized.entities_nfc.python_mb": "MB",
    "functions.native.text_chain.wall_s": "s",
    "functions.native.text_chain.cpu_s": "s",
    "sources.catalog.write_table.wall_s": "s",
    "sources.catalog.write_table.cpu_s": "s",
    "sources.catalog.write_table.output_mb": "MB",
    "jobs.transform.spark_jobs": "count",
    "jobs.transform.unattributed_s": "s",
    "bench.traced_job_s": "s",
    "bench.trace_overhead_s": "s",
}  # fmt: skip


class Tracer:
    def __init__(self, workload: str, run_dir: str):
        self.workload = workload
        self.log_dir = os.path.join(run_dir, "eventlog")
        self.spans: list[dict] = []  # name, id, parent, start, end (epoch s)
        self.stack: list[dict] = []
        self.ids = itertools.count()
        self.sc = None
        self.tables = None  # the TranscriptTables the job validated
        self.turns = None  # the turns frame the job read
        self.observed: dict[str, int] = {}

    def spark_conf(self) -> dict[str, str]:
        os.makedirs(self.log_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{self.log_dir}",
            "spark.eventLog.compress": "false",
        }

    # -- spans --------------------------------------------------------------

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                sc = tracer._context()
                s = {"name": name, "id": f"{name}#{next(tracer.ids)}", "start": time.time()}
                s["parent"] = tracer.stack[-1]["id"] if tracer.stack else None
                s["prev_desc"] = sc.getLocalProperty("spark.job.description")
                sc.setJobDescription(s["id"])
                tracer.stack.append(s)
                return s

            def __exit__(self, *exc):
                s = tracer.stack.pop()
                s["end"] = time.time()
                tracer._context().setLocalProperty("spark.job.description", s.pop("prev_desc"))
                tracer.spans.append(s)

        return _Span()

    def _context(self):
        if self.sc is None:
            from pyspark import SparkContext

            self.sc = SparkContext._active_spark_context
        return self.sc

    def _wrap(self, owner, attr: str, name: str, lazy: tuple[str, ...] = ()) -> None:
        """Replace ``owner.attr`` by a spanned call. With ``lazy``, the
        returned frame's named action methods run under the span too."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            for method in lazy:
                frames = out if isinstance(out, tuple) else (out,)
                df = frames[0]
                action = getattr(df, method)
                setattr(df, method, self._spanned(name, action))
            return out

        setattr(owner, attr, traced)

    def _spanned(self, name: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def install(self) -> None:
        from sgb_data_validator_spark.operators import certify, stats
        from sgb_data_validator_spark.plans import pipeline
        from sgb_data_validator_spark.sources import catalog, ledger, sinks

        from jobs import transform

        self._wrap(catalog, "read_table", "sources.catalog.read_table")
        self._wrap(certify, "sampled_certification_by_part", "operators.certify.by_part", lazy=("collect",))
        self._wrap(pipeline, "materialize", "plans.pipeline.materialize")
        self._wrap(sinks, "write_all", "sources.sinks.write_all")
        for s in SINKS:
            self._wrap(sinks, s, f"sources.sinks.{s}")
        self._wrap(stats, "hll_partition_sketches", "sources.ledger.sketches", lazy=("localCheckpoint",))
        self._wrap(ledger.Ledger, "record", "sources.ledger.record")
        self._wrap(ledger.SketchStore, "record", "sources.ledger.sketch_store")
        self._wrap(catalog, "write_table", "sources.catalog.write_table")

        validate = pipeline.validate

        @functools.wraps(validate)
        def capture(t, *args, **kwargs):
            self.tables = t
            return validate(t, *args, **kwargs)

        pipeline.validate = capture
        read = transform.transformed_with_metrics

        @functools.wraps(read)
        def capture_turns(turns, *args, **kwargs):
            self.turns = turns
            return read(turns, *args, **kwargs)

        transform.transformed_with_metrics = capture_turns

    # -- after the job: layers forced on their own ------------------------

    def _noop(self, name: str, df) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(name)
        with self.span(name):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        self.observed[name] = obs.get["n"]

    def force_layers(self) -> None:
        """Each check family, or each text-function layer, alone."""
        from pyspark.sql import functions as F

        if self.tables is not None:
            from sgb_data_validator_spark.operators import drift, referential, uniqueness, windows
            from sgb_data_validator_spark.plans import pipeline

            t = self.tables
            turns = t.turns
            # the pipeline builds the drift input inline: vocabulary-
            # conforming roles, and tools that are NULL or allowed
            ok_tools = F.broadcast(t.allowed_tools.select("tool").distinct().withColumn("_ok", F.lit(True)))
            drift_input = (
                turns.where(F.col("role").isin(pipeline.ROLES) | F.col("role").isNull())
                .join(ok_tools, "tool", "left")
                .where(F.col("tool").isNull() | F.col("_ok"))
                .drop("_ok")
            )
            orphans = referential.orphan_violations(turns, t.conversations, "conv_id", "conv_id", "ref.conv_id")
            families = {
                "operators.rules": pipeline.transcript_row_rules().violations(turns),
                "operators.uniqueness": uniqueness.uniqueness_violations(turns),
                "operators.windows.opening_role": windows.opening_role_violations(turns, ("system",)),
                "operators.windows.sequence": windows.sequence_violations(turns),
                "operators.referential.orphans": orphans.unionByName(
                    referential.orphan_violations(turns, t.allowed_tools, "tool", "tool", "ref.tool")
                ),
                "operators.referential.zero_children": referential.zero_children_violations(
                    t.conversations, turns, "conv_id", "conv_id"
                ),
                "operators.drift": drift.drift_violations(drift_input, t.baseline_stats),
                "operators.stats.column_stats": pipeline.transcript_stats(turns),
            }
            for name, df in families.items():
                self._noop(name, df)
        if self.turns is not None:
            from sgb_data_validator_spark.functions import native, vectorized

            text = F.col("text")
            self._noop("functions.vectorized.entities_nfc", self.turns.select(vectorized.entities_nfc_udf(text)))
            self._noop("functions.native.text_chain", self.turns.select(native.text_pipeline(text, exact_unicode=False)))

    # -- after the session stopped: the event log -----------------------

    def report(self, job_start: float, job_s: float, get_spark_s: float) -> dict[str, float]:
        events = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, "**", "events_*"), recursive=True)):
            with open(path) as fh:
                events += [json.loads(line) for line in fh if line.startswith("{")]
        stage_desc, stage_metrics, job_times, executions = {}, {}, [], {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_desc[(info["Stage ID"], info["Stage Attempt ID"])] = (e.get("Properties") or {}).get(
                    "spark.job.description"
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_metrics[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    a["Name"]: a.get("Value") for a in info.get("Accumulables", []) if "Name" in a
                }
            elif kind == "SparkListenerJobStart":
                job_times.append(e["Submission Time"] / 1000)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                executions[e["executionId"]] = {"desc": e.get("description"), "plan": e["sparkPlanInfo"]}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in executions:
                    executions[e["executionId"]]["plan"] = e["sparkPlanInfo"]

        # a span's metrics include those of the spans opened inside it
        parent = {s["id"]: s["parent"] for s in self.spans}
        owners: dict[str, set[str]] = {}
        for sid in parent:
            cur, chain = sid, set()
            while cur is not None:
                chain.add(cur)
                cur = parent.get(cur)
            owners[sid] = chain

        def stage_sum(name: str, metric: str) -> float:
            total = 0.0
            for key, desc in stage_desc.items():
                if desc in owners and any(o.startswith(name + "#") for o in owners[desc]):
                    total += float(stage_metrics.get(key, {}).get(metric) or 0)
            return total

        def wall(name: str) -> float:
            return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

        cpu = lambda name: stage_sum(name, "internal.metrics.executorCpuTime") / 1e9  # noqa: E731
        shuffle = lambda name: stage_sum(name, "internal.metrics.shuffle.write.bytesWritten") / MB  # noqa: E731
        out = {k: 0.0 for k in METRICS}
        out["session.get_spark.wall_s"] = get_spark_s
        out["bench.traced_job_s"] = job_s
        top = [s for s in self.spans if s["parent"] is None and job_start <= s["start"] <= job_start + job_s]
        job_name = "jobs.transform" if self.workload == "transform-clean" else "jobs.validate"
        out[f"{job_name}.unattributed_s"] = job_s - sum(s["end"] - s["start"] for s in top)
        out[f"{job_name}.spark_jobs"] = sum(1 for t in job_times if job_start <= t <= job_start + job_s)
        out["sources.catalog.read_table.wall_s"] = wall("sources.catalog.read_table")

        m = "plans.pipeline.materialize"
        out.update({
            f"{m}.wall_s": wall(m), f"{m}.cpu_s": cpu(m), f"{m}.shuffle_write_mb": shuffle(m),
            f"{m}.gc_s": stage_sum(m, "internal.metrics.jvmGCTime") / 1e3,
            f"{m}.spill_mb": (stage_sum(m, "internal.metrics.memoryBytesSpilled")
                              + stage_sum(m, "internal.metrics.diskBytesSpilled")) / MB,
            f"{m}.input_mb": stage_sum(m, "internal.metrics.input.bytesRead") / MB,
        })  # fmt: skip
        plans = [x["plan"] for x in executions.values() if x["desc"] and x["desc"].startswith(m + "#")]
        out["plans.pipeline.fact_scans"] = sum(_count(p, _is_fact_scan) for p in plans)
        out["plans.pipeline.exchanges"] = sum(_count(p, lambda n: n["nodeName"] == "Exchange") for p in plans)
        for f in FAMILIES:
            if f in self.observed:
                out.update({f"{f}.wall_s": wall(f), f"{f}.cpu_s": cpu(f), f"{f}.shuffle_write_mb": shuffle(f),
                            f"{f}.violations": self.observed[f]})  # fmt: skip
        c = "operators.certify.by_part"
        out.update({f"{c}.wall_s": wall(c), f"{c}.cpu_s": cpu(c),
                    f"{c}.input_mb": stage_sum(c, "internal.metrics.input.bytesRead") / MB})  # fmt: skip
        for name in ("sources.sinks.write_all", "sources.ledger.sketches"):
            out[f"{name}.wall_s"], out[f"{name}.cpu_s"] = wall(name), cpu(name)
        for s in SINKS:
            out[f"sources.sinks.{s}.wall_s"] = wall(f"sources.sinks.{s}")
        out["sources.ledger.record.wall_s"] = wall("sources.ledger.record")
        out["sources.ledger.sketch_store.wall_s"] = wall("sources.ledger.sketch_store")
        for name in ("functions.vectorized.entities_nfc", "functions.native.text_chain", "sources.catalog.write_table"):
            out[f"{name}.wall_s"], out[f"{name}.cpu_s"] = wall(name), cpu(name)
        out["functions.vectorized.entities_nfc.python_mb"] = (
            stage_sum("functions.vectorized.entities_nfc", "data sent to Python workers") / MB
        )
        out["sources.catalog.write_table.output_mb"] = (
            stage_sum("sources.catalog.write_table", "internal.metrics.output.bytesWritten") / MB
        )
        return out


def _count(plan: dict, pred) -> int:
    return int(pred(plan)) + sum(_count(c, pred) for c in plan.get("children", []))


def _is_fact_scan(node: dict) -> bool:
    location = (node.get("metadata") or {}).get("Location", "")
    return node["nodeName"].startswith("Scan parquet") and "/turns" in location
