"""Per-layer tracing for the sizing benchmark.

Spans are recorded from outside the program: :class:`Probe` replaces the
module attributes the pipeline and the CLI look up at call time (for
example ``plans.pipeline.route`` and ``sources.cm_api.load_api_queries``)
with wrappers, so the traced run executes the program's own composition.

In a traced op each wrapped call runs under a Spark job group named after
its layer (``call`` span: driver time inside the call, including any eager
job). A layer that returns a lazy frame is then forced once with a noop
write under a second group (``force`` span), which gives the layer's run
time and executor counters. Jobs submitted from threads that do not
inherit the job group (the thread pool in ``collect_report_values``) are
attributed to the innermost span whose time window holds their
submission time.

Executor counters come from Spark's uncompressed JSON event log, read after
the session stops (:func:`read_event_log`).
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

PKG = "impala_base_to_cdw_sizing_spark"
GROUP_PREFIX = "perfbench|"

# (module, attribute, layer, forced): ``forced`` layers return a lazy frame
# (or a plan holding one) that the traced run materializes separately;
# the others are actions whose call time is their run time.
PATCHES: list[tuple[str, str, str, bool]] = [
    ("sources.files", "read_query_history_csv", "sources.files.read_query_history_csv", True),
    ("sources.cm_api", "load_api_queries", "sources.cm_api.load_api_queries", False),
    ("sources.cm_api", "flatten_api_docs", "sources.cm_api.flatten_api_docs", True),
    ("plans.pipeline", "route", "operators.route.route", True),
    ("plans.pipeline", "classify", "operators.classify.classify", True),
    ("operators.classify", "classify", "operators.classify.classify", True),
    ("plans.pipeline", "summarize", "operators.aggregates", True),
    ("plans.pipeline", "argmax_query", "operators.aggregates", True),
    ("plans.pipeline", "size_matrix", "operators.aggregates", True),
    ("plans.pipeline", "utilization", "operators.aggregates", True),
    ("plans.pipeline", "explode_events", "operators.sweep.explode_events", True),
    ("plans.pipeline", "running_sums", "operators.sweep.running_sums", True),
    ("plans.pipeline", "sweep_maxima", "operators.sweep.sweep_maxima", True),
    ("plans.reports", "collect_report_values", "plans.reports.collect_report_values", False),
    ("sinks", "write_sizing_outputs", "sinks.csv_sinks.write_sizing_outputs", False),
]
FORCED = {layer: forced for _, _, layer, forced in PATCHES}

# per-layer metrics reported by the traced run: (layer, stat, unit)
LAYER_METRICS: list[tuple[str, str, str]] = [
    ("sources.files.read_query_history_csv", "run_s", "s"),
    ("sources.files.read_query_history_csv", "cpu_s", "s"),
    ("sources.files.read_query_history_csv", "input_mb", "MB"),
    ("sources.cm_api.load_api_queries", "build_s", "s"),
    ("sources.cm_api.load_api_queries", "pages", "count"),
    ("sources.cm_api.load_api_queries", "http_mb", "MB"),
    ("sources.cm_api.flatten_api_docs", "run_s", "s"),
    ("operators.route.route", "run_s", "s"),
    ("operators.route.route", "cpu_s", "s"),
    ("operators.route.route", "jobs", "count"),
    ("operators.classify.classify", "run_s", "s"),
    ("operators.classify.classify", "cpu_s", "s"),
    ("operators.aggregates", "run_s", "s"),
    ("operators.aggregates", "jobs", "count"),
    ("operators.aggregates", "shuffle_mb", "MB"),
    ("operators.sweep.explode_events", "run_s", "s"),
    ("operators.sweep.running_sums", "build_s", "s"),
    ("operators.sweep.running_sums", "jobs", "count"),
    ("operators.sweep.running_sums", "run_s", "s"),
    ("operators.sweep.running_sums", "shuffle_mb", "MB"),
    ("operators.sweep.running_sums", "spill_mb", "MB"),
    ("operators.sweep.running_sums", "task_skew", "ratio"),
    ("operators.sweep.sweep_maxima", "run_s", "s"),
    ("plans.reports.collect_report_values", "run_s", "s"),
    ("plans.reports.collect_report_values", "jobs", "count"),
    ("plans.reports.collect_report_values", "tasks", "count"),
    ("sinks.csv_sinks.write_sizing_outputs", "run_s", "s"),
    ("sinks.csv_sinks.write_sizing_outputs", "output_mb", "MB"),
    ("sinks.csv_sinks.write_sizing_outputs", "jobs", "count"),
]
# whole-run counters per op, over the program's own jobs (forcing excluded)
RUN_METRICS: list[tuple[str, str]] = [
    ("spark.catalyst_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"),
]
MB = 1 << 20


@dataclass
class Span:
    op: int
    layer: str
    phase: str  # "call" (the program's own call) or "force" (the benchmark's)
    t0: float  # epoch seconds, the event log's clock
    t1: float
    counters: dict[str, float] = field(default_factory=dict)


class Probe:
    """Installs the wrappers; keeps the last report value in every mode and
    spans only while an op is being traced."""

    def __init__(self, counters: Callable[[], dict[str, float]] | None = None):
        self.last_report = None
        self.spark = None
        self.op: int | None = None  # set while a traced op runs
        self.spans: list[Span] = []
        self.catalyst_s: dict[int, float] = defaultdict(float)
        self._counters = counters or (lambda: {})
        self._originals: list[tuple[object, str, object]] = []

    def install(self) -> None:
        wrappers: dict[int, Callable] = {}
        for mod_name, attr, layer, forced in PATCHES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            if id(fn) not in wrappers:
                wrappers[id(fn)] = self._wrap(fn, layer, forced)
            self._originals.append((mod, attr, fn))
            setattr(mod, attr, wrappers[id(fn)])

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._originals):
            setattr(mod, attr, fn)
        self._originals.clear()

    def _wrap(self, fn: Callable, layer: str, forced: bool) -> Callable:
        def traced(*args, **kwargs):
            op = self.op
            if op is None:
                out = fn(*args, **kwargs)
            else:
                out = self._span(op, layer, "call", lambda: fn(*args, **kwargs))
                if forced:
                    frame = getattr(out, "derived", out)  # RoutedPlan -> cached table
                    self._span(op, layer, "force", lambda: _force(frame))
            if layer == "plans.reports.collect_report_values":
                self.last_report = out
            return out

        traced.__wrapped__ = fn
        return traced

    def _span(self, op: int, layer: str, phase: str, thunk: Callable):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{GROUP_PREFIX}{op}|{layer}|{phase}", layer)
        before = self._counters()
        t0 = time.time()
        try:
            return thunk()
        finally:
            t1 = time.time()
            after = self._counters()
            self.spans.append(
                Span(op, layer, phase, t0, t1, {k: after[k] - before[k] for k in after})
            )
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def trace_collect(self) -> Callable[[], None]:
        """Time Catalyst for every ``DataFrame.collect`` (and so ``first``)
        the program issues during a traced op; returns the undo."""
        df_cls = type(self.spark.range(0))
        original = df_cls.collect
        probe = self

        def collect(df):
            if probe.op is not None:
                qe = df._jdf.queryExecution()
                qe.executedPlan()  # plans now; the collect below reuses it
                probe.catalyst_s[probe.op] += _catalyst_s(qe)
            return original(df)

        df_cls.collect = collect
        return lambda: setattr(df_cls, "collect", original)


def _force(frame) -> None:
    frame.write.format("noop").mode("overwrite").save()


def _catalyst_s(qe) -> float:
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total / 1000.0


# --- event log -------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    group: str | None
    stages: list[int]
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    # stage id -> task durations (s), for the skew ratio
    task_s: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))


def read_event_log(log_dir: Path, app_id: str) -> dict[int, Job]:
    """Jobs of one application with their tasks' executor counters."""
    files = sorted(
        (log_dir / f"eventlog_v2_{app_id}").glob("events_*"),
        key=lambda p: int(p.name.split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no rolling event log for {app_id} in {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    stages = [s["Stage ID"] for s in ev["Stage Infos"]]
                    job = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        props.get("spark.jobGroup.id"),
                        stages,
                    )
                    jobs[job.job_id] = job
                    for s in stages:  # a reused stage ran in its first job
                        stage_job.setdefault(s, job.job_id)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is not None:
                        _add_task(job, ev)
    return jobs


def _add_task(job: Job, ev: dict) -> None:
    info = ev["Task Info"]
    job.tasks += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        job.failed_tasks += 1
    job.task_s[ev["Stage ID"]].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    m = ev.get("Task Metrics") or {}
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
    job.shuffle_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
    job.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
    job.input_mb += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    job.output_mb += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB


# --- attribution -----------------------------------------------------------


def _owner(job: Job, op_spans: dict[int, list[Span]], ops: dict[int, tuple[float, float]]):
    """(op, layer, phase) of a job; layer is None for the program's jobs
    outside every wrapped layer, op is None outside every traced op."""
    if job.group and job.group.startswith(GROUP_PREFIX):
        op, layer, phase = job.group[len(GROUP_PREFIX):].split("|")
        op = int(op)
    else:
        op = next((i for i, (t0, t1) in ops.items() if t0 <= job.submit <= t1), None)
        layer = phase = None
    if op is None:
        return None, None, None
    if layer is None:
        # thread-pool jobs carry no group: the innermost span holding them
        holding = [
            s for s in op_spans.get(op, [])
            if s.t0 - 0.001 <= job.submit <= s.t1 + 0.001
        ]
        if holding:
            inner = min(holding, key=lambda s: s.t1 - s.t0)
            layer, phase = inner.layer, inner.phase
    return op, layer, phase


def attribute(
    jobs: dict[int, Job],
    spans: list[Span],
    ops: dict[int, tuple[float, float]],
    catalyst_s: dict[int, float],
) -> dict[str, float]:
    """Per-layer and whole-run metrics: the median over traced ops of each
    op's value."""
    op_spans: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        op_spans[s.op].append(s)
    per_op: dict[int, dict[str, float]] = {op: defaultdict(float) for op in ops}
    # stage with the most task time in running_sums' forced run, per op
    sweep_stages: dict[int, dict[int, list[float]]] = defaultdict(dict)

    for job in jobs.values():
        op, layer, phase = _owner(job, op_spans, ops)
        if op is None or op not in per_op:
            continue
        row = per_op[op]
        if phase != "force":
            row["spark.jobs"] += 1
            row["spark.tasks"] += job.tasks
            row["spark.cpu_s"] += job.cpu_s
            row["spark.gc_s"] += job.gc_s
            row["spark.failed_tasks"] += job.failed_tasks
        if layer is None:
            continue
        for stat in ("tasks", "cpu_s", "shuffle_mb", "spill_mb", "input_mb", "output_mb"):
            row[f"{layer}.{stat}"] += getattr(job, stat)
        row[f"{layer}.jobs"] += 1
        if layer == "operators.sweep.running_sums" and phase == "force":
            sweep_stages[op].update(job.task_s)

    for s in spans:
        row = per_op.get(s.op)
        if row is None:
            continue
        if s.phase == "call":
            row[f"{s.layer}.build_s"] += s.t1 - s.t0
            for k, v in s.counters.items():
                row[f"{s.layer}.{k}"] += v
        if (s.phase == "force") == FORCED[s.layer]:
            row[f"{s.layer}.run_s"] += s.t1 - s.t0

    for op, stages in sweep_stages.items():
        busiest = max(stages.values(), key=sum, default=[])
        if len(busiest) > 1 and statistics.median(busiest) > 0:
            per_op[op]["operators.sweep.running_sums.task_skew"] = (
                max(busiest) / statistics.median(busiest)
            )
    for op, secs in catalyst_s.items():
        if op in per_op:
            per_op[op]["spark.catalyst_s"] = secs

    names = [f"{layer}.{stat}" for layer, stat, _ in LAYER_METRICS]
    names += [name for name, _ in RUN_METRICS]
    return {
        name: statistics.median(row.get(name, 0.0) for row in per_op.values())
        for name in names
    }
