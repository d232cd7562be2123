"""Traced-run tooling: spans, wrappers, and the Spark event-log parser.

A traced run wraps the program's public entry points (and two private
hooks named below) in timing spans. Every span carries a name, start,
end, parent and the tag of the epoch or query it ran under. Spans stay
in memory and are written out once, when the run ends. The wrappers
also set a Spark job group per tag, so the event log attributes every
job, stage and task back to its epoch or query.

An untraced run uses only a disabled Tracer, whose spans time
themselves (the set-up phases) and record nothing.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Callable, Optional


class Tracer:
    """Records spans when ``enabled``; otherwise a span only times
    itself (the untraced run uses it for its set-up phases)."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[tuple[str, str], float] = defaultdict(float)
        self.tag = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            sp = {"start": time.perf_counter(), "end": None}
            try:
                yield sp
            finally:
                sp["end"] = time.perf_counter()
            return
        stack = self._stack()
        sp = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "tag": self.tag,
            **attrs,
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()

    def count(self, name: str, amount: float = 1.0) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counters[(name, self.tag)] += amount

    def inside(self, name: str) -> bool:
        return any(sp["name"] == name for sp in self._stack())

    # -- summaries -----------------------------------------------------
    def per_tag(self, name: str) -> dict[str, float]:
        """Summed duration of every ``name`` span, per tag."""

        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp["name"] == name and sp["end"] is not None:
                out[sp["tag"]] += sp["end"] - sp["start"]
        return out

    def calls_per_tag(self, name: str) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for sp in self.spans:
            if sp["name"] == name:
                out[sp["tag"]] += 1
        return out

    def counter_per_tag(self, name: str) -> dict[str, float]:
        return {t: v for (n, t), v in self.counters.items() if n == name}

    def write(self, path: Path) -> None:
        """Spans as JSON lines, each with its self time: its duration
        minus the time its child spans cover."""

        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None and sp["end"] is not None:
                child_time[sp["parent"]] += sp["end"] - sp["start"]
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                if sp["end"] is None:
                    continue
                dur = sp["end"] - sp["start"]
                rec = dict(sp)
                rec["start"] = sp["start"] - t0
                rec["end"] = sp["end"] - t0
                rec["self"] = dur - child_time[sp["id"]]
                fh.write(json.dumps(rec, default=str) + "\n")

    # -- patching ------------------------------------------------------
    def patch(self, owner: Any, attr: str, make: Callable[[Any], Any]) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def timed(self, owner: Any, attr: str, name: str) -> None:
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)

            return wrapper

        self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched = []


def set_job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions. Call after the program's
    modules are imported and before the first set-up."""

    from declarative_dataflow_spark import engine as engine_mod
    from declarative_dataflow_spark import server as server_mod
    from declarative_dataflow_spark.plan import compiler
    from declarative_dataflow_spark.streaming import incremental, reactive

    # server: Server.handle runs on the WebSocket handler thread; the
    # epoch's job group is set there, where its Spark jobs start.
    def make_handle(fn):
        @functools.wraps(fn)
        def handle(self, requests):
            set_job_group(self.spark, tracer.tag)
            with tracer.span("server.handle"):
                return fn(self, requests)

        return handle

    tracer.patch(server_mod.Server, "handle", make_handle)

    # streaming.reactive: the emit callback drains each diff frame
    # through toLocalIterator, where the lazy pipelines execute.
    def make_emit(fn):
        @functools.wraps(fn)
        def _emit_interest(self, name):
            callback = fn(self, name)

            def traced(diffs_df, epoch):
                sub = self.session.interests.get(name)
                path = "inc" if sub is not None and sub.delta_join else "rec"
                set_job_group(self.spark, f"{tracer.tag}:{path}")
                try:
                    with tracer.span("reactive.emit", interest=name, path=path):
                        return callback(diffs_df, epoch)
                finally:
                    set_job_group(self.spark, tracer.tag)

            return traced

        return _emit_interest

    tracer.patch(server_mod.Server, "_emit_interest", make_emit)
    tracer.timed(reactive.ReactiveSession, "advance", "reactive.advance")

    # The two per-interest paths (private hooks): each sets its own
    # job group, so Spark work splits into incremental and recompute.
    def make_path(path: str, span_name: str):
        def make(fn):
            @functools.wraps(fn)
            def advance_path(self, sub, *a, **kw):
                spark = self.engine.spark
                set_job_group(spark, f"{tracer.tag}:{path}")
                try:
                    with tracer.span(span_name, interest=sub.name):
                        return fn(self, sub, *a, **kw)
                finally:
                    set_job_group(spark, tracer.tag)

            return advance_path

        return make

    tracer.patch(
        reactive.ReactiveSession,
        "_advance_incremental",
        make_path("inc", "reactive.incremental"),
    )
    tracer.patch(
        reactive.ReactiveSession,
        "_advance_recompute",
        make_path("rec", "reactive.recompute"),
    )

    # streaming.incremental
    tracer.timed(incremental.DeltaJoin, "transact", "incremental.deltajoin")

    # Compaction fires inside the private DeltaJoin._advance when a
    # snapshot reaches ``compact_every`` lazy appends.
    def make_advance(fn):
        @functools.wraps(fn)
        def _advance(self, deltas, *a, **kw):
            due = any(
                aid in self.snapshots
                and self._appends.get(aid, 0) + 1 >= self.compact_every
                for aid in deltas
            )
            if due:
                tracer.count("incremental.compact")
            return fn(self, deltas, *a, **kw)

        return _advance

    tracer.patch(incremental.DeltaJoin, "_advance", make_advance)

    # engine
    tracer.timed(engine_mod.Engine, "transact", "engine.transact")
    tracer.timed(engine_mod.Engine, "advance_traces", "engine.advance_traces")
    tracer.timed(engine_mod.Engine, "interest", "engine.interest")

    # plan.compiler: compile_plan recurses through its own module
    # global and is imported by name elsewhere; patch every binding.
    # Only the outermost call of a nest opens a span.
    original = compiler.compile_plan

    @functools.wraps(original)
    def compile_plan(plan, catalog):
        if tracer.inside("plan.compile"):
            return original(plan, catalog)
        with tracer.span("plan.compile"):
            return original(plan, catalog)

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if not (
            name.startswith("declarative_dataflow_spark")
            or name == "__spark_entry__"
        ):
            continue
        if getattr(mod, "compile_plan", None) is original:
            tracer.patch(mod, "compile_plan", lambda _fn: compile_plan)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "job_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
)


def _event_files(event_dir: Path) -> list[Path]:
    return sorted(
        p
        for p in event_dir.rglob("*")
        if p.is_file() and not p.name.startswith(".") and not p.name.endswith(".crc")
    )


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def parse_event_log(event_dir: Path) -> dict[str, dict[str, float]]:
    """Spark work per job group: job, stage and task counts, the wall
    covered by running jobs, executor time, GC, bytes, and the worst
    stage's task skew (max over median task run time)."""

    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    stage_runs: dict[tuple[int, int], list[float]] = defaultdict(list)
    stages_done: dict[str, int] = defaultdict(int)
    acc: dict[str, dict[str, float]] = defaultdict(
        lambda: {f: 0.0 for f in SPARK_FIELDS}
    )
    for path in _event_files(event_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "unassigned"
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_span[jid] = [ev.get("Submission Time", 0), None]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    acc[group]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_span:
                        job_span[jid][1] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages_done[stage_group.get(sid, "unassigned")] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid, "unassigned")
                    m = ev.get("Task Metrics") or {}
                    a = acc[group]
                    a["tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    a["executor_run_s"] += run_ms / 1000.0
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    stage_runs[(sid, ev.get("Stage Attempt ID", 0))].append(run_ms)
    intervals: dict[str, list] = defaultdict(list)
    for jid, (start, end) in job_span.items():
        if end is not None:
            intervals[job_group[jid]].append((start, end))
    skew: dict[str, float] = defaultdict(lambda: 1.0)
    for (sid, _), runs in stage_runs.items():
        if len(runs) < 2:
            continue
        runs.sort()
        mid = runs[len(runs) // 2]
        ratio = max(runs) / max(mid, 1)
        group = stage_group.get(sid, "unassigned")
        skew[group] = max(skew[group], ratio)
    for group, a in acc.items():
        a["stages"] = float(stages_done.get(group, 0))
        a["job_s"] = _union_s(intervals.get(group, []))
        a["task_skew"] = skew[group]
        a["_intervals"] = intervals.get(group, [])
    return dict(acc)


def by_tag(groups: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Fold sub-groups ``tag:path`` into their tag. Counts and bytes
    add, ``job_s`` re-unions the intervals, skew keeps the worst."""

    out: dict[str, dict[str, Any]] = {}
    for group, a in groups.items():
        tag = group.split(":", 1)[0]
        cur = out.setdefault(
            tag, {**{f: 0.0 for f in SPARK_FIELDS}, "task_skew": 1.0, "_intervals": []}
        )
        for f in SPARK_FIELDS:
            if f == "task_skew":
                cur[f] = max(cur[f], a[f])
            elif f != "job_s":
                cur[f] += a[f]
        cur["_intervals"] = cur["_intervals"] + a.get("_intervals", [])
    for cur in out.values():
        cur["job_s"] = _union_s(cur.pop("_intervals"))
    return out


def field_by_tag(
    groups: dict[str, dict[str, float]], field: str, suffix: Optional[str] = None
) -> dict[str, float]:
    """One field per tag, optionally for one ``tag:suffix`` sub-group."""

    out: dict[str, float] = {}
    for group, a in groups.items():
        tag, _, sub = group.partition(":")
        if suffix is None or sub == suffix:
            out[tag] = out.get(tag, 0.0) + a[field]
    return out
