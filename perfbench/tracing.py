"""Per-layer tracing for the engine-epoch benchmark.

Spans are recorded from outside the engine: `install` swaps the module
attributes the engine looks its collaborators up through (for example
`crawler_spark.operators.skew.salted_topk_per_group`, imported inside
`run_epoch` at call time) for wrappers that record a span in memory and
label the Spark jobs the call triggers with a job group
``"<epoch>|<label>"``. After the run, `layer_metrics` joins the spans with
the Spark event log, so every epoch phase gets its own wall time, job
count, task time and bytes.

Per-layer ``*_s`` metrics are self times per timed epoch: a span minus the
part of it its child spans cover. `session.start_s` and
`epoch.bootstrap_s` are set-up spans and stay inclusive.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# Wrapped call → span label. The label names the module the engine calls.
PATCHES = [
    ("crawler_spark.operators.epoch", "CrawlEngine.run_epoch", "epoch.run_epoch"),
    ("crawler_spark.operators.epoch", "CrawlEngine.bootstrap", "epoch.bootstrap"),
    ("crawler_spark.operators.epoch", "enqueue_batch", "epoch.enqueue_plan"),
    ("crawler_spark.operators.epoch", "collect_fate_counters", "epoch.counters"),
    ("crawler_spark.operators.epoch", "pop_schedule", "poporder.pop_schedule"),
    ("crawler_spark.operators.skew", "salted_topk_per_group", "skew.topk_plan"),
    ("crawler_spark.operators.skew", "dense_global_seq", "skew.dense_seq_plan"),
    ("crawler_spark.storage.snapshots", "SnapshotStore.commit", "snapshots.commit"),
    ("crawler_spark.storage.snapshots", "SnapshotStore.read", "snapshots.read"),
    ("crawler_spark.storage.snapshots", "SnapshotStore.snapshot", "snapshots.read"),
]

# Labels whose Spark jobs get their own event-log breakdown. enqueue_batch
# and dense_global_seq return lazy plans, but building dense_global_seq's
# non-eager localCheckpoint runs the shuffle stages below it, so much of the
# epoch's upstream DAG runs under that label. enqueue_batch's own code,
# salted_topk_per_group and pop_schedule trigger no jobs.
JOB_LABELS = [
    "epoch.run_epoch", "snapshots.commit", "snapshots.read", "epoch.counters",
    "skew.dense_seq_plan",
]
JOB_FIELDS = [
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("output_mb", "MB"),
]

# per-layer metric → (unit, end-to-end metric it should move, workload that shows it)
LAYER_METRICS = {
    "session.start_s": ("s", "setup_s", "all"),
    "epoch.bootstrap_s": ("s", "setup_s", "wide_batch"),
    "snapshots.commit_s": ("s", "epoch_s", "deep_backlog"),
    "snapshots.commit_jobs": ("count", "spark_jobs_per_epoch", "deep_backlog"),
    "snapshots.read_s": ("s", "epoch_s", "deep_backlog"),
    "snapshots.rows_written": ("rows", "bytes_written_per_epoch", "deep_backlog"),
    "snapshots.delta_frac": ("ratio", "bytes_written_per_epoch", "wide_batch"),
    "epoch.counters_s": ("s", "epoch_s", "deep_backlog"),
    "epoch.enqueue_plan_s": ("s", "epoch_s", "deep_backlog"),
    "skew.topk_plan_s": ("s", "epoch_s", "deep_backlog"),
    "skew.dense_seq_plan_s": ("s", "epoch_s", "deep_backlog"),
    "poporder.offered_rows": ("rows", "urls_per_s", "wide_batch"),
    "epoch.schedule_yield": ("ratio", "urls_per_s", "wide_batch"),
    "epoch.self_s": ("s", "epoch_s", "wide_batch"),
    "epoch.seen_filtered_frac": ("ratio", "urls_per_s", "wide_batch"),
    "epoch.attenuated": ("count", "urls_per_s", "wide_batch"),
    "spark.busy_frac": ("ratio", "epoch_s", "wide_batch"),
    "spark.driver_gap_s": ("s", "epoch_s", "deep_backlog"),
    "trace.epoch_s": ("s", "epoch_s", "all"),
    "trace.overhead_s": ("s", "epoch_s", "all"),
}
for _label in JOB_LABELS:
    for _field, _unit in JOB_FIELDS:
        LAYER_METRICS[f"spark.{_label}.{_field}"] = (
            _unit, "epoch_s", "deep_backlog" if _label.startswith("snapshots") else "wide_batch"
        )

SELF_TIME_METRICS = {
    "epoch.run_epoch": "epoch.self_s",
    "snapshots.commit": "snapshots.commit_s",
    "snapshots.read": "snapshots.read_s",
    "epoch.counters": "epoch.counters_s",
    "epoch.enqueue_plan": "epoch.enqueue_plan_s",
    "skew.topk_plan": "skew.topk_plan_s",
    "skew.dense_seq_plan": "skew.dense_seq_plan_s",
}


@dataclass
class Span:
    label: str
    epoch: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder. `epoch` is the phase the run loop is in
    ("setup" or the epoch number); every span and job group carries it."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.epoch = "setup"
        self.offered: dict[str, int] = {}
        self.bookkeeping_s: dict[str, float] = {}

    def _group(self, label: str) -> None:
        self.sc.setJobGroup(f"{self.epoch}|{label}", label)

    def wrap(self, label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            b0 = time.perf_counter()
            if label == "poporder.pop_schedule":
                self.offered[self.epoch] = self.offered.get(self.epoch, 0) + sum(args[0].values())
            parent = self.stack[-1] if self.stack else None
            span = Span(label, self.epoch, 0.0, parent=parent)
            self.spans.append(span)
            idx = len(self.spans) - 1
            if parent is not None:
                self.spans[parent].children.append(idx)
            self.stack.append(idx)
            self._group(label)
            self._charge(b0)
            span.start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.time()
                b1 = time.perf_counter()
                self.stack.pop()
                if self.stack:
                    self._group(self.spans[self.stack[-1]].label)
                else:
                    self.sc.setJobGroup(f"{self.epoch}|-", "untraced")
                self._charge(b1)

        return traced

    def _charge(self, since: float) -> None:
        self.bookkeeping_s[self.epoch] = (
            self.bookkeeping_s.get(self.epoch, 0.0) + time.perf_counter() - since
        )


def install(tracer: Tracer) -> None:
    import importlib

    for mod_name, attr, label in PATCHES:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(label, getattr(cls, meth)))
        else:
            setattr(mod, attr, tracer.wrap(label, getattr(mod, attr)))


def self_times(spans: list[Span], epoch: str) -> dict[str, float]:
    """label → summed self time over the spans of one epoch."""
    out: dict[str, float] = {}
    for s in spans:
        if s.epoch != epoch:
            continue
        covered = sum(spans[c].end - spans[c].start for c in s.children)
        out[s.label] = out.get(s.label, 0.0) + (s.end - s.start) - covered
    return out


def read_event_log(event_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from an uncompressed Spark event log directory.
    jobs: group/start/end; stages: group plus summed task metrics."""
    files = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True))
    files += [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1e3, "end": None}
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, {"group": group, "tasks": 0, "run_s": 0.0,
                                            "cpu_s": 0.0, "shuffle_mb": 0.0, "output_mb": 0.0})
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    if st is None:
                        continue
                    st["tasks"] += 1
                    st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    st["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    return list(jobs.values()), list(stages.values())


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def layer_metrics(
    tracer: Tracer,
    event_dir: str,
    epoch_rows: list[dict],
    setup: dict[str, float],
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics: the median over the timed epochs of each epoch's
    value. `epoch_rows` carries, per timed epoch, the engine's metrics dict
    plus `wall_s`, `rows_written` and `new_rows` from the parquet footers."""
    jobs, stages = read_event_log(event_dir)
    per_epoch: list[dict[str, float]] = []
    for row in epoch_rows:
        e = str(row["epoch"])
        st = self_times(tracer.spans, e)
        vals = {name: st.get(label, 0.0) for label, name in SELF_TIME_METRICS.items()}
        e_jobs = [j for j in jobs if j["group"] and j["group"].startswith(f"{e}|") and j["end"]]
        e_stages = [s for s in stages if s["group"] and s["group"].startswith(f"{e}|")]
        for label in JOB_LABELS:
            ls = [s for s in e_stages if s["group"] == f"{e}|{label}"]
            vals[f"spark.{label}.stages"] = len(ls)
            vals[f"spark.{label}.tasks"] = sum(s["tasks"] for s in ls)
            vals[f"spark.{label}.executor_run_s"] = sum(s["run_s"] for s in ls)
            vals[f"spark.{label}.executor_cpu_s"] = sum(s["cpu_s"] for s in ls)
            vals[f"spark.{label}.shuffle_write_mb"] = sum(s["shuffle_mb"] for s in ls)
            vals[f"spark.{label}.output_mb"] = sum(s["output_mb"] for s in ls)
        wall = row["wall_s"]
        vals["snapshots.commit_jobs"] = sum(1 for j in e_jobs if j["group"] == f"{e}|snapshots.commit")
        vals["spark.busy_frac"] = sum(s["run_s"] for s in e_stages) / (wall * cores)
        vals["spark.driver_gap_s"] = wall - _union_length([(j["start"], j["end"]) for j in e_jobs])
        vals["snapshots.rows_written"] = row["rows_written"]
        vals["snapshots.delta_frac"] = row["new_rows"] / max(row["rows_written"], 1)
        offered = tracer.offered.get(e, 0)
        vals["poporder.offered_rows"] = offered
        vals["epoch.schedule_yield"] = row["scheduled"] / offered if offered else 0.0
        filt = row["seen_filtered"] + row["enqueued"]
        vals["epoch.seen_filtered_frac"] = row["seen_filtered"] / filt if filt else 0.0
        vals["epoch.attenuated"] = row["attenuated"]
        vals["trace.epoch_s"] = wall
        vals["trace.overhead_s"] = tracer.bookkeeping_s.get(e, 0.0)
        per_epoch.append(vals)
    out = {k: statistics.median(v[k] for v in per_epoch) for k in per_epoch[0]}
    out.update(setup)
    return out


def print_table(metrics: dict[str, float], workload: str) -> None:
    print(f"per-layer table, workload {workload} (median over timed epochs)")
    print(f"  {'metric':44s} {'value':>12s} {'unit':6s}  should move -> on workload")
    for name, (unit, e2e, wl) in LAYER_METRICS.items():
        print(f"  {name:44s} {metrics[name]:12.4f} {unit:6s}  {e2e} -> {wl}")
    overhead = metrics["trace.overhead_s"] / metrics["trace.epoch_s"]
    print(f"  tracing overhead: {metrics['trace.overhead_s']:.4f} s of wrapper bookkeeping per epoch "
          f"({overhead:.2%} of the traced epoch)")
