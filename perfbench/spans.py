"""Spans and listeners for the traced run.

Every span is recorded from the benchmark's own files: around the
calls it makes into the program (``get_spark``, ``from_spec``,
``pipe.run``, a query's ``fn()`` and its action) and, through
wrappers installed by ``install``, around the library's public entry
points those calls reach (``Pipeline.to_frame``, ``PathSource.load``
and ``ParquetSink.write``). Spans are kept in memory with a name,
start, end, parent and pass id, and written out when the run ends.

Two Spark listeners run only while tracing: a ``QueryExecutionListener``
for the Catalyst phase durations and plan size of each executed query,
and a ``StreamingQueryListener`` for micro-batch progress. Both are
asynchronous; the status reader drains the listener bus after every
pass before the pass id changes, so each event lands in its own pass.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time

from status import ExecStats

# unit of every metric ``Tracer.layer_metrics`` returns
LAYER_UNITS = {
    "lower.s": "s", "lower.jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.lines": "lines",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.sched_gap_s": "s", "exec.failed_tasks": "count",
    "exec.concurrency": "s/s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "source.load_s": "s", "source.input_mb": "MB", "source.input_rows": "rows",
    "sink.write_s": "s", "sink.output_rows": "rows", "sink.output_mb": "MB",
    "stream.batches": "count", "stream.batch_ms_p50": "ms",
    "stream.commit_ms": "ms", "stream.state_rows": "rows",
    "cache.rdds_left": "count",
}


class Tracer:
    def __init__(self) -> None:
        self.active = False  # tracing the current pass
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self.plans: list[dict] = []
        self.batches: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "plans": self.plans,
                       "batches": self.batches}, fh)

    # -- wrappers and listeners ---------------------------------------

    def install(self, spark) -> None:
        """Wrap the library entry points and register the listeners."""
        from node_etl_spark.pipeline import Pipeline
        from node_etl_spark.sources.base_source import PathSource
        from node_etl_spark.sources.writers import ParquetSink

        for cls, attr, name in (
            (Pipeline, "to_frame", "lower.to_frame"),
            (PathSource, "load", "source.load"),
            (ParquetSink, "write", "sink.write"),
        ):
            setattr(cls, attr, self._wrap(getattr(cls, attr), name))

        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(_PlanListener(self))
        spark.streams.addListener(_stream_listener(self))

    def _wrap(self, method, name: str):
        @functools.wraps(method)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return method(*args, **kwargs)

        return wrapper

    # -- per-pass layer metrics ----------------------------------------

    def layer_metrics(self, pass_id: int, wall_s: float, ex: ExecStats,
                      rdds_left: int) -> dict[str, float]:
        spans = [s for s in self.spans if s["pass"] == pass_id]
        by_id = {s["id"]: s for s in spans}

        def top(prefix: str) -> list[dict]:
            # outermost spans of a layer: nested calls are not counted twice
            out = []
            for s in spans:
                p, nested = s["parent"], False
                while p is not None:
                    if by_id[p]["name"].startswith(prefix):
                        nested = True
                        break
                    p = by_id[p]["parent"]
                if s["name"].startswith(prefix) and not nested:
                    out.append(s)
            return out

        def dur(ss: list[dict]) -> float:
            return sum(s["end"] - s["start"] for s in ss)

        lower = top("lower.")
        lower_jobs = sum(
            1 for sub, _ in ex.job_times
            if any(s["start"] * 1000 <= sub <= s["end"] * 1000 for s in lower)
        )
        plans = [p for p in self.plans if p["pass"] == pass_id]
        batches = [b for b in self.batches if b["pass"] == pass_id]
        last_state: dict[str, int] = {}
        for b in batches:
            last_state[b["query"]] = b["state_rows"]
        return {
            "lower.s": dur(lower),
            "lower.jobs": lower_jobs,
            "plan.analysis_ms": sum(p["analysis"] for p in plans),
            "plan.optimization_ms": sum(p["optimization"] for p in plans),
            "plan.planning_ms": sum(p["planning"] for p in plans),
            "plan.lines": max((p["lines"] for p in plans), default=0),
            "exec.jobs": ex.jobs,
            "exec.stages": ex.stages,
            "exec.tasks": ex.tasks,
            "exec.task_s": ex.task_s,
            "exec.cpu_s": ex.cpu_s,
            "exec.gc_s": ex.gc_s,
            "exec.sched_gap_s": ex.sched_gap_s,
            "exec.failed_tasks": ex.failed_tasks,
            "exec.concurrency": ex.task_s / wall_s,
            "exec.shuffle_read_mb": ex.shuffle_read_mb,
            "exec.shuffle_write_mb": ex.shuffle_write_mb,
            "exec.spill_mb": ex.spill_mb,
            "source.load_s": ex.scan_task_s + dur(top("source.")),
            "source.input_mb": ex.input_mb,
            "source.input_rows": ex.input_rows,
            "sink.write_s": dur(top("sink.")),
            "sink.output_rows": ex.output_rows,
            "sink.output_mb": ex.output_mb,
            "stream.batches": len(batches),
            "stream.batch_ms_p50": statistics.median(
                [b["trigger_ms"] for b in batches]) if batches else 0.0,
            "stream.commit_ms": sum(b["commit_ms"] for b in batches),
            "stream.state_rows": sum(last_state.values()),
            "cache.rdds_left": rdds_left,
        }


class _PlanListener:
    """py4j implementation of ``QueryExecutionListener``."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        if not self.tracer.active:
            return
        phases = qe.tracker().phases()

        def ms(k: str) -> int:
            return phases.apply(k).durationMs() if phases.contains(k) else 0

        self.tracer.plans.append({
            "pass": self.tracer.pass_id,
            "action": func_name,
            "analysis": ms("analysis"),
            "optimization": ms("optimization"),
            "planning": ms("planning"),
            "lines": qe.executedPlan().toString().count("\n") + 1,
        })

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _stream_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _StreamListener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 - Spark API
            pass

        def onQueryProgress(self, event):  # noqa: N802 - Spark API
            if not tracer.active:
                return
            p = event.progress
            d = p.durationMs
            tracer.batches.append({
                "pass": tracer.pass_id,
                "query": str(p.id),
                "batch": p.batchId,
                "trigger_ms": d.get("triggerExecution", 0),
                "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):  # noqa: N802 - Spark API
            pass

        def onQueryTerminated(self, event):  # noqa: N802 - Spark API
            pass

    return _StreamListener()
