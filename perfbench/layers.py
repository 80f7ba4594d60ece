"""Per-layer metrics of a traced run.

Each traced op is reduced to an :class:`OpTrace` right after it returns
(outside its timed region): its spans, the Spark jobs of each job group it
labelled, the Python exec-node SQL metrics of the SQL executions it ran,
and, for the stream, its query's progress reports.  :func:`layer_metrics`
turns those into the per-layer metrics, as means per op (per call for
``sources.load_table_*``), fractions of summed bases, and error counts.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.trace import (
    catalyst_seconds, dir_mb, layer_self_times, self_times, union_length,
)

#: layers that get an ``<layer>.errors`` count
ERROR_LAYERS = ("session", "sources", "plans", "sinks", "streaming", "pipeline")
#: layers that get a ``<layer>.self_s`` self time
SELF_LAYERS = ("bench", "plans", "sources", "sinks", "streaming", "pipeline")
#: streaming progress durations -> metric names
PROGRESS = {
    "latestOffset": "streaming.latest_offset_s",
    "queryPlanning": "streaming.query_planning_s",
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}
_JOB_SUMS = ("executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class OpTrace:
    wall: float
    rows: int
    spans: list
    steps: dict                      # step -> [job dicts]
    python: dict
    catalyst_s: float = 0.0
    progress: list = field(default_factory=list)
    checkpoint_mb: float = 0.0
    epoch: float = 0.0               # epoch seconds at perf_counter() == 0

    @classmethod
    def collect(cls, wl, op, wall, spans, stats, sql_before, epoch) -> "OpTrace":
        steps = {step: stats.jobs(stats.job_ids(g)) for step, g in op.groups.items()}
        sink = op.info.get("sink")
        return cls(
            wall=wall, rows=op.rows, spans=spans, steps=steps,
            python=dict(stats.python_metrics(sql_before)),
            catalyst_s=catalyst_seconds(sink) if sink is not None else 0.0,
            progress=op.info.get("progress", []),
            checkpoint_mb=dir_mb(wl.checkpoint) if hasattr(wl, "checkpoint") else 0.0,
            epoch=epoch,
        )

    # -- helpers ------------------------------------------------------------
    def span_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_s(self, name: str) -> float:
        st = self_times(self.spans)
        return sum(st[s.id] for s in self.spans if s.name == name)

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s.start + self.epoch, s.end + self.epoch) for s in self.spans if s.name == name]

    @property
    def jobs(self) -> list[dict]:
        return [j for js in self.steps.values() for j in js]

    def window(self) -> tuple[float, float]:
        root = next(s for s in self.spans if s.name == "bench.op")
        return root.start + self.epoch, root.end + self.epoch

    def in_job_s(self) -> float:
        lo, hi = self.window()
        return union_length((max(j["start"], lo), min(j["end"], hi))
                            for j in self.jobs if j["end"] > lo and j["start"] < hi)

    def jobs_within(self, name: str) -> list[dict]:
        """Jobs submitted while a span of ``name`` was open (job times are
        millisecond-rounded, hence the slack)."""
        iv = self.intervals(name)
        return [j for j in self.jobs
                if any(a - 2e-3 <= j["start"] <= b + 2e-3 for a, b in iv)]

    def self_residual(self) -> float:
        """|sum of self times - measured wall|: what the spans miss."""
        return abs(sum(self_times(self.spans).values()) - self.wall)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(ops: list[OpTrace], load_table_calls, setups, tracer, passes, cores) -> dict:
    m: dict[str, float] = {}
    m["session.start_s"] = statistics.median(a for a, _ in setups)
    m["session.warmup_s"] = statistics.median(b for _, b in setups)

    # sources
    lt_spans = [s for spans, _ in load_table_calls for s in spans if s.name == "sources.load_table"]
    lt_jobs = [len(js) for _, calls in load_table_calls for js in calls]
    m["sources.load_table_s"] = _mean(s.end - s.start for s in lt_spans)
    m["sources.load_table_jobs"] = _mean(lt_jobs)
    m["sources.rest_fetch_s"] = _mean(o.span_s("sources.rest_fetch") for o in ops)
    m["sources.rest_read_table_s"] = _mean(o.span_s("sources.rest_read_table") for o in ops)

    # plans: builder, Catalyst, forcing action, and the jobs they ran
    wall = sum(o.wall for o in ops)
    m["plans.build_s"] = _mean(o.span_s("plans.build") for o in ops)
    m["plans.build_jobs"] = _mean(len(o.steps.get("build", ())) for o in ops)
    m["plans.build_share"] = _ratio(sum(o.span_s("plans.build") for o in ops), wall)
    m["plans.catalyst_s"] = _mean(o.catalyst_s for o in ops)
    m["plans.exec_s"] = _mean(o.span_s("plans.exec") for o in ops)
    exec_jobs = [o.steps.get("exec", []) for o in ops]
    m["plans.exec_jobs"] = _mean(len(js) for js in exec_jobs)
    m["plans.exec_stages"] = _mean(sum(j["stages"] for j in js) for js in exec_jobs)
    m["plans.exec_tasks"] = _mean(sum(j["tasks"] for j in js) for js in exec_jobs)
    catalog = [o for o in ops if "exec" in o.steps]
    m["plans.in_job_s"] = _mean(o.in_job_s() for o in catalog)
    m["plans.driver_gap_s"] = _mean(o.wall - o.in_job_s() for o in catalog)
    for k in _JOB_SUMS:
        m[f"plans.{k}"] = _mean(sum(j[k] for j in o.jobs) for o in ops)
    m["plans.core_busy_frac"] = _ratio(
        sum(j["executor_run_s"] for o in ops for j in o.jobs), wall * cores
    )

    # operators: Python exec nodes inside the plans
    for k in ("python_total_s", "python_boot_s", "python_mb_sent", "python_mb_received",
              "python_rows"):
        m[f"operators.{k}"] = _mean(o.python.get(k, 0.0) for o in ops)

    # sinks
    upsert_s = sum(o.span_s("sinks.upsert") for o in ops)
    m["sinks.csv_write_s"] = _mean(o.span_s("sinks.csv_write") for o in ops)
    m["sinks.upsert_s"] = _mean(o.span_s("sinks.upsert") for o in ops)
    m["sinks.upsert_tasks"] = _mean(
        sum(j["tasks"] for j in o.jobs_within("sinks.upsert")) for o in ops
    )
    m["sinks.upsert_rows_per_s"] = _ratio(
        sum(o.rows for o in ops if o.span_s("sinks.upsert")), upsert_s
    )
    m["sinks.ledger_s"] = _mean(o.self_s("sinks.ledger") for o in ops)

    # streaming
    trig = [o.span_s("streaming.trigger") for o in ops]
    m["streaming.trigger_s"] = _mean(trig)
    m["streaming.startup_s"] = _mean(
        t - sum(p.get("triggerExecution", 0) for p in o.progress) / 1e3
        for t, o in zip(trig, ops) if t
    )
    for key, name in PROGRESS.items():
        m[name] = _mean(sum(p.get(key, 0) for p in o.progress) / 1e3 for o in ops)
    m["streaming.checkpoint_mb"] = max((o.checkpoint_mb for o in ops), default=0.0)

    # pipeline
    m["pipeline.extract_s"] = _mean(o.span_s("pipeline.extract") for o in ops)
    m["pipeline.load_s"] = _mean(o.span_s("pipeline.load") for o in ops)
    etl = [o for o in ops if "extract" in o.steps]
    m["pipeline.jobs"] = _mean(len(o.jobs) for o in etl)
    m["pipeline.driver_s"] = _mean(
        o.wall - union_length(
            [(j["start"], j["end"]) for j in o.jobs] + o.intervals("sources.rest_fetch")
        )
        for o in etl
    )

    # self time per layer, errors per layer, and the tracer's own cost
    per_layer = defaultdict(float)
    for o in ops:
        for layer, t in layer_self_times(o.spans).items():
            per_layer[layer] += t
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = _ratio(per_layer[layer], len(ops))
    for layer in ERROR_LAYERS:
        m[f"{layer}.errors"] = float(tracer.errors.get(layer, 0))
    m["bench.self_residual_s"] = max((o.self_residual() for o in ops), default=0.0)
    on = [p["wall_s"] for p in passes if p["traced"]]
    off = [p["wall_s"] for p in passes if not p["traced"]]
    m["bench.trace_overhead_frac"] = _ratio(_mean(on), _mean(off)) - 1.0 if on and off else 0.0
    return m
