"""The traced run: per-layer metrics from spans plus the Spark event log.

After the verify pass, untraced and traced passes alternate, starting
and ending with an untraced one (at least one traced pass, until
``--seconds`` are measured). In a traced pass every instrumented
function records a span under its own job group. Once the session has
stopped, the event log is parsed and each traced pass's spans are
joined to the jobs, stages and tasks they caused. The per-layer metrics
are the medians over the traced passes; ``trace.overhead_s`` is the
median traced wall minus the median untraced wall, so a pass-to-pass
warm-up trend cancels instead of counting as tracing cost.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import time

from perfbench import eventlog
from perfbench.workloads import data_files

UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s", "queries.exec_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.empty_job_s": "s", "spark.job_floor_s": "s",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.parallelism": "ratio",
    "spark.input_bytes": "bytes", "spark.input_records": "count",
    "spark.records_per_output_row": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.python_task_s": "s",
    "operators.graph.s": "s", "operators.graph.jobs": "count",
    "operators.bpe.s": "s", "operators.bpe.jobs": "count",
    "operators.checkpoints": "count",
    "operators.similarity.s": "s", "operators.dedup.s": "s",
    "operators.multimodal.s": "s", "operators.relational.s": "s",
    "plans.fixtures.s": "s", "plans.fixtures.jobs": "count",
    "plans.audit.lint_s": "s",
    "sources.writers.s": "s", "sources.writers.jobs": "count",
    "sources.writers.files": "count", "sources.writers.bytes": "bytes",
    "sources.writers.rows": "count", "sources.writers.files_per_partition": "ratio",
    "stored_bytes_per_row": "bytes/row",
    "alerts.s": "s", "alerts.jobs": "count",
    "pipeline.self_s": "s",
    "trace.overhead_s": "s", "trace.bookkeeping_s": "s", "trace.unattributed_s": "s",
    "trace.spans": "count", "trace.span_jobs": "count",
    "peak_rss_mb": "MB",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    # only this run's log is read; drop earlier runs' logs
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # the status store's default keeps ~1000 jobs; an iterative pass
        # runs hundreds
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


@dataclasses.dataclass
class TracedPass:
    root: object  # spans.Span of the whole pass
    result: object  # workloads.PassResult
    checkpoints: int
    bookkeeping_s: float
    writes: dict[str, float]


class TracedRun:
    def __init__(self, spark, runner, tracer) -> None:
        self.spark = spark
        self.runner = runner
        self.tracer = tracer
        self.passes: list[TracedPass] = []
        self.baselines: list = []  # the untraced passes around the traced ones
        self.empty_job_s = 0.0

    def measure_empty_job(self, n: int = 5) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup("empty-job", "spark.range(1).count()")
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).count()
            times.append(time.perf_counter() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.empty_job_s = statistics.median(times)

    def run(self, one_pass, seconds: float, budget_left) -> None:
        """Alternate untraced and traced passes: U T U [T U ...]."""
        self.baselines.append(one_pass(1, False))
        t0 = time.perf_counter()
        while not self.passes or (time.perf_counter() - t0 < seconds and budget_left()):
            n = len(self.passes) + len(self.baselines) + 1
            self.tracer.enabled = True
            before = self.tracer.checkpoints, self.tracer.bookkeeping_s
            root = self.tracer.begin(f"pass {n}", "pass")
            try:
                result = one_pass(n, False)
            finally:
                self.tracer.end(root)
                self.tracer.enabled = False
            self.passes.append(TracedPass(
                root, result,
                checkpoints=self.tracer.checkpoints - before[0],
                bookkeeping_s=self.tracer.bookkeeping_s - before[1],
                writes=write_stats(self.runner.out_root) if self.runner.day_runs else {},
            ))
            self.baselines.append(one_pass(n + 1, False))

    def results(self) -> list:
        return [p.result for p in self.passes] + self.baselines

    def metrics(self, log_dir: str, app_id: str, output_rows: int, rss_mb: float) -> dict:
        groups = eventlog.parse(eventlog.find_log(log_dir, app_id))
        per_pass = [self._pass_metrics(p, groups, output_rows) for p in self.passes]
        values = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        values["peak_rss_mb"] = rss_mb
        values["trace.overhead_s"] = (
            statistics.median(p.result.wall for p in self.passes)
            - statistics.median(p.wall for p in self.baselines)
        )
        return {k: {"value": values[k], "unit": UNITS[k]} for k in UNITS}

    def _pass_metrics(self, tp: TracedPass, groups, output_rows: int) -> dict[str, float]:
        spans = self.tracer.spans
        children: dict[int, list] = {}
        for s in spans:
            children.setdefault(s.parent, []).append(s)
        in_pass = []
        stack = [tp.root]
        while stack:
            s = stack.pop()
            in_pass.append(s)
            stack.extend(children.get(s.id, []))
        by_id = {s.id: s for s in in_pass}

        def inclusive_jobs(s) -> int:
            return s.jobs + sum(inclusive_jobs(c) for c in children.get(s.id, []))

        def outermost(layer: str) -> list:
            out = []
            for s in in_pass:
                if s.layer != layer:
                    continue
                p = by_id.get(s.parent)
                while p is not None and p.layer != layer:
                    p = by_id.get(p.parent)
                if p is None:
                    out.append(s)
            return out

        def secs(layer: str) -> float:
            return sum(s.end - s.start for s in outermost(layer))

        def jobs(layer: str) -> int:
            return sum(inclusive_jobs(s) for s in outermost(layer))

        stats = eventlog.GroupStats()
        for s in in_pass:
            if s.group in groups:
                stats.add(groups[s.group])
        t_lo = tp.root.wall_start
        t_hi = t_lo + (tp.root.end - tp.root.start)
        all_jobs = sum(1 for g in groups.values() for t in g.job_times if t_lo <= t <= t_hi)
        wall = tp.result.wall
        cores = len(os.sched_getaffinity(0))
        pipeline_self = sum(
            (s.end - s.start) - sum(c.end - c.start for c in children.get(s.id, []))
            for s in outermost("pipeline")
        )
        top = children.get(tp.root.id, [])
        w = tp.writes
        rows_out = w.get("rows") or output_rows
        return {
            "queries.build_s": secs("queries.build"),
            "queries.build_jobs": jobs("queries.build"),
            "queries.exec_s": secs("queries.exec"),
            "queries.exec_jobs": jobs("queries.exec"),
            "spark.jobs": all_jobs,
            "spark.stages": stats.stages,
            "spark.tasks": stats.tasks,
            "spark.empty_job_s": self.empty_job_s,
            "spark.job_floor_s": all_jobs * self.empty_job_s,
            "spark.task_s": stats.task_s,
            "spark.cpu_s": stats.cpu_s,
            "spark.gc_s": stats.gc_s,
            "spark.parallelism": stats.task_s / (wall * cores) if wall else 0.0,
            "spark.input_bytes": stats.input_bytes,
            "spark.input_records": stats.input_records,
            "spark.records_per_output_row": stats.input_records / rows_out if rows_out else 0.0,
            "spark.shuffle_write_bytes": stats.shuffle_write_bytes,
            "spark.shuffle_read_bytes": stats.shuffle_read_bytes,
            "spark.spill_bytes": stats.spill_bytes,
            "spark.python_task_s": stats.python_task_s,
            "operators.graph.s": secs("operators.graph"),
            "operators.graph.jobs": jobs("operators.graph"),
            "operators.bpe.s": secs("operators.bpe"),
            "operators.bpe.jobs": jobs("operators.bpe"),
            "operators.checkpoints": tp.checkpoints,
            "operators.similarity.s": secs("operators.similarity"),
            "operators.dedup.s": secs("operators.dedup"),
            "operators.multimodal.s": secs("operators.multimodal"),
            "operators.relational.s": secs("operators.relational"),
            "plans.fixtures.s": secs("plans.fixtures"),
            "plans.fixtures.jobs": jobs("plans.fixtures"),
            "plans.audit.lint_s": secs("plans.audit.lint"),
            "sources.writers.s": secs("sources.writers"),
            "sources.writers.jobs": jobs("sources.writers"),
            "sources.writers.files": w.get("files", 0),
            "sources.writers.bytes": w.get("bytes", 0),
            "sources.writers.rows": w.get("rows", 0),
            "sources.writers.files_per_partition": w.get("files_per_partition", 0.0),
            "stored_bytes_per_row": w["bytes"] / w["rows"] if w.get("rows") else 0.0,
            "alerts.s": secs("alerts"),
            "alerts.jobs": jobs("alerts"),
            "pipeline.self_s": pipeline_self,
            "trace.bookkeeping_s": tp.bookkeeping_s,
            "trace.unattributed_s": wall - sum(s.end - s.start for s in top),
            "trace.spans": len(in_pass) - 1,
            "trace.span_jobs": sum(s.jobs for s in in_pass),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([dataclasses.asdict(s) for s in self.tracer.spans], f)


def write_stats(out_root: str) -> dict[str, float]:
    """Data files, bytes and rows under the written zones, from footers."""
    import pyarrow.parquet as pq

    files = rows = size = 0
    partitions = 0
    for dirpath, _dirs, _files in os.walk(out_root):
        found = data_files(dirpath)
        if not found:
            continue
        if "=" in os.path.basename(dirpath):
            partitions += 1
        files += len(found)
        size += sum(os.path.getsize(f) for f in found)
        rows += sum(pq.read_metadata(f).num_rows for f in found)
    return {
        "files": files,
        "bytes": size,
        "rows": rows,
        "files_per_partition": files / partitions if partitions else 0.0,
    }
