"""Per-layer probes for the traced run.

Every probe works from outside the engine: it reads Spark's status
store by job group, the JVM's codegen counters, a query's Catalyst
phase tracker and its executed plan's SQL metrics, or it counts calls
into a public function of the package. Nothing here changes what the
engine computes.
"""

from __future__ import annotations

import os
import time

# Per-layer metrics reported by ``--trace 1``, with their units. Every
# workload reports every name; a layer a workload never enters reads 0.
METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "materialize.blocks": "count",
    "materialize.block_bytes": "bytes",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.slot_util": "frac",
    "scan.input_bytes": "bytes",
    "scan.input_records": "count",
    "scan.tasks": "count",
    "scan.spread_exchanges": "count",
    "udf.python_rows": "count",
    "udf.python_bytes": "bytes",
    "collect.s": "s",
    "collect.rows": "count",
    "aria.gen_s": "s",
    "aria.run_batch_s": "s",
    "aria.install_s": "s",
    "aria.epochs": "count",
    "aria.jobs_per_epoch": "count",
    "aria.attempts_per_txn": "count",
    "aria.abort_frac": "frac",
    "failed_frac": "frac",
    "mem.peak_rss_mb": "MB",
    "host.calibration_s": "s",
    "trace.overhead_frac": "frac",
}

# Metrics summed over the items of a pass (the rest are per-run values
# or ratios computed from these sums).
PASS_SUMS = [
    n for n in METRICS
    if n.split(".")[0] in ("build", "materialize", "plan", "exec", "scan", "udf",
                           "collect", "aria")
    and n not in ("exec.slot_util", "aria.jobs_per_epoch",
                  "aria.attempts_per_txn", "aria.abort_frac")
]


class Probe:
    """Reads the layer counters of one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        jvm = self.sc._jvm
        self.store = self.jsc.sc().statusStore()
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self.spread_calls = 0
        self._patch_spread_scan()

    def _patch_spread_scan(self) -> None:
        """Count the scans ``spread_scan`` actually fanned out (the
        exchange is added only when the gate fires)."""
        from gpu_database_spark.sources import catalog

        original = catalog.spread_scan

        def counted(df, spark, path):
            out = original(df, spark, path)
            if out is not df:
                self.spread_calls += 1
            return out

        catalog.spread_scan = counted

    # ---- counters read before and after an item ---------------------
    def snapshot(self) -> dict:
        return {
            "compiles": self.codegen_hist.getCount(),
            "compile_ns": self.codegen.compileTime(),
            "rdds": set(self.jsc.getPersistentRDDs().keySet().toArray()),
            "spread": self.spread_calls,
        }

    def delta(self, before: dict, groups: dict[str, str], df=None) -> dict:
        """Layer counters accumulated since ``before``. ``groups`` maps
        a phase name ("build", "collect", "run_batch", ...) to the job
        group its jobs ran under."""
        self.jsc.sc().listenerBus().waitUntilEmpty()
        after = self.snapshot()
        out = {
            "codegen.compiles": after["compiles"] - before["compiles"],
            "codegen.compile_ms": (after["compile_ns"] - before["compile_ns"]) / 1e6,
            "scan.spread_exchanges": after["spread"] - before["spread"],
        }
        new_rdds = after["rdds"] - before["rdds"]
        out["materialize.blocks"] = len(new_rdds)
        out["materialize.block_bytes"] = sum(
            info.memSize() + info.diskSize()
            for info in self.jsc.sc().getRDDStorageInfo()
            if info.id() in new_rdds
        )
        totals = dict.fromkeys(
            ["exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
             "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
             "exec.spill_bytes", "scan.input_bytes", "scan.input_records",
             "scan.tasks"], 0.0)
        for phase, group in groups.items():
            jobs, job_s = self._jobs(group, totals)
            out[f"{phase}.jobs"] = jobs
            out[f"{phase}.job_s"] = job_s
        out.update(totals)
        if df is not None:
            out.update(self._plan_metrics(df))
        return out

    def _jobs(self, group: str, totals: dict) -> tuple[int, float]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        job_s = 0.0
        for jid in ids:
            jd = self.store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                job_s += (jd.completionTime().get().getTime()
                          - jd.submissionTime().get().getTime()) / 1000
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                try:
                    sd = self.store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # stage evicted from the store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                tasks = sd.numCompleteTasks()
                totals["exec.stages"] += 1
                totals["exec.tasks"] += tasks
                totals["exec.run_ms"] += sd.executorRunTime()
                totals["exec.cpu_ms"] += sd.executorCpuTime() / 1e6
                totals["exec.gc_ms"] += sd.jvmGcTime()
                totals["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                totals["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.inputBytes() > 0 or sd.inputRecords() > 0:
                    totals["scan.input_bytes"] += sd.inputBytes()
                    totals["scan.input_records"] += sd.inputRecords()
                    totals["scan.tasks"] += tasks
        totals["exec.jobs"] += len(ids)
        return len(ids), job_s

    def _plan_metrics(self, df) -> dict:
        """Catalyst phase times and Python-worker SQL metrics of the
        item's final DataFrame (after its action ran)."""
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            ph = phases.get(name)
            out[f"plan.{name}_ms"] = ph.get().durationMs() if ph.isDefined() else 0
        rows = nbytes = 0
        stack = [qe.executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            metrics = node.metrics()
            if metrics.contains("pythonNumRowsReceived"):
                rows += metrics.apply("pythonNumRowsReceived").value()
                for m in ("pythonDataSent", "pythonDataReceived"):
                    if metrics.contains(m):
                        nbytes += metrics.apply(m).value()
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        out["udf.python_rows"] = rows
        out["udf.python_bytes"] = nbytes
        return out


def calibration_s(spark) -> float:
    """The fixed 10M-row groupBy job ``bench.py`` calibrates the host
    with: pure CPU, no I/O, no Python workers."""
    t0 = time.perf_counter()
    (
        spark.range(0, 10_000_000, 1, 32)
        .selectExpr("id % 1000 AS k", "(id * 2654435761) % 1000000 AS v")
        .groupBy("k")
        .sum("v")
        .collect()
    )
    return time.perf_counter() - t0


def host_context(spark) -> dict:
    import platform

    return {
        "nproc": os.cpu_count(),
        "cores_used": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
