"""In-memory span tracer for the benchmark's traced runs.

A span records name, start, end, parent span, op id and the Spark jobs
and tasks launched while it was open. Spark work is counted from outside
the program: every op runs under its own job group, and the job ids of
that group are read from ``SparkContext.statusTracker()`` when a span
opens and closes. Self time is a span's duration minus the part of that
interval its child spans cover.

With tracing off every entry point is a no-op apart from the job group
each op gets, so the untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time

#: per-layer metric name -> (span name, unit, aggregation). ``op_self``:
#: the span's summed self time within one op, median over ops;
#: ``call_self``: self time per call, median over calls; ``call_tasks``:
#: Spark tasks per call, median over calls.
SPAN_METRICS = {
    "session.start_s": ("session.start", "s", "call_self"),
    "catalog.table_open_s": ("catalog.table_open", "s", "call_self"),
    "catalog.table_open_tasks": ("catalog.table_open", "count", "call_tasks"),
    "operators.exec_s": ("operators.exec", "s", "op_self"),
    "ingest.probe_s": ("ingest.probe", "s", "op_self"),
    "ingest.to_df_s": ("ingest.to_df", "s", "op_self"),
    "writer.upsert_s": ("writer.upsert", "s", "op_self"),
    "validation.report_s": ("validation.report", "s", "op_self"),
    "rankings.append_s": ("rankings.append", "s", "op_self"),
    "rankings.rebuild_s": ("rankings.rebuild", "s", "op_self"),
    "analytics.stats_s": ("analytics.stats", "s", "op_self"),
    "analytics.transitions_s": ("analytics.transitions", "s", "op_self"),
    "dedup.exact_s": ("dedup.exact", "s", "op_self"),
    "dedup.minhash_lsh_s": ("dedup.minhash_lsh", "s", "op_self"),
    "dedup.clusters_s": ("dedup.clusters", "s", "op_self"),
    "textops.curate_s": ("textops.curate", "s", "op_self"),
}


def _median(values, default=0.0):
    return statistics.median(values) if values else default


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, list] = {}
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._op: str | None = None
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    # ------------------------------------------------------------ Spark
    def _group_work(self):
        """(job ids, status tracker) of the current op's job group, after
        the listener bus has delivered every event posted so far."""
        sc = self._spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — older bus API: poll once more
            time.sleep(0.05)
        tracker = sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(self._op))
        return jobs, tracker

    @staticmethod
    def _stages(tracker, job_ids) -> set:
        out = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                out.update(info.stageIds)
        return out

    @staticmethod
    def _tasks(tracker, stage_ids) -> int:
        """Tasks launched by these stages (a stage that a later job reuses
        is listed by that job too, so callers pass only new stage ids)."""
        tasks = 0
        for sid in stage_ids:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
        return tasks

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def op(self, op_id: str):
        """One workload op: its own Spark job group and a root span."""
        self._spark.sparkContext.setJobGroup(op_id, op_id, interruptOnCancel=False)
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
        }
        if self._op:
            jobs0, tracker = self._group_work()
            stages0 = self._stages(tracker, jobs0)
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._op:
                jobs1, tracker = self._group_work()
                new = jobs1 - jobs0
                rec["jobs"] = len(new)
                rec["tasks"] = self._tasks(
                    tracker, self._stages(tracker, new) - stages0
                )
            else:
                rec["jobs"] = rec["tasks"] = 0
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def add_span(self, name: str, start: float, end: float):
        """Record a span, under the open one, whose bounds the caller
        observed."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"name": name, "op": self._op, "parent": parent,
                 "start": start, "end": end, "jobs": 0, "tasks": 0}
            )

    def last(self, name: str) -> dict | None:
        """The most recent span called ``name``."""
        return next((s for s in reversed(self.spans) if s["name"] == name), None)

    def count(self, name: str, value) -> None:
        if self.enabled:
            self.counters.setdefault(name, []).append(value)

    def wrap(self, owner, attr: str, span_name: str, when=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span around
        each call; ``when(*args, **kwargs)`` filters which calls are traced."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if when is not None and not when(*args, **kwargs):
                return fn(*args, **kwargs)
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # ---------------------------------------------------------- results
    def self_times(self) -> list[float]:
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - _covered(children.get(i, []))
            for i, s in enumerate(self.spans)
        ]

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        selfs = self.self_times()
        ops = sorted({s["op"] for s in self.spans if s["op"]})
        out: dict[str, tuple[float, str]] = {}
        for metric, (name, unit, agg) in SPAN_METRICS.items():
            idx = [i for i, s in enumerate(self.spans) if s["name"] == name]
            if agg == "call_self":
                value = _median([selfs[i] for i in idx])
            elif agg == "call_tasks":
                value = _median([self.spans[i]["tasks"] for i in idx])
            else:
                per_op = {op: 0.0 for op in ops}
                for i in idx:
                    if self.spans[i]["op"] in per_op:
                        per_op[self.spans[i]["op"]] += selfs[i]
                value = _median(list(per_op.values())) if idx else 0.0
            out[metric] = (value, unit)
        roots = [s for s in self.spans if s["name"] == "op"]
        out["catalog.opens_per_op"] = (
            _median([
                sum(1 for s in self.spans
                    if s["name"] == "catalog.table_open" and s["op"] == r["op"])
                for r in roots
            ]),
            "count",
        )
        out["spark.jobs_per_op"] = (_median([r["jobs"] for r in roots]), "count")
        out["spark.tasks_per_op"] = (_median([r["tasks"] for r in roots]), "count")
        out["trace.bookkeeping_s"] = (
            self.bookkeeping_s / len(roots) if roots else 0.0,
            "s",
        )
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s, st in zip(self.spans, selfs):
                fh.write(json.dumps({**s, "self": st}) + "\n")
