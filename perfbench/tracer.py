"""Span tracing from outside the program, for the traced (``--trace 1``) run.

Spans wrap the module-level names that ``pipeline.py`` calls and the
catalog calls the benchmark makes itself: each records (id, name, start,
end, parent, run id, iteration). Spans are kept in memory and written to
a JSON file when the run ends. A layer's self time is its spans' duration
minus the part covered by their child spans.

Every span also sets a Spark job group, so each Spark job is attributed
to the innermost span that started it; stage metrics are read per group
from the Spark status REST API on localhost after the run.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration = -1
        self._sc = None

    def bind(self, spark_context) -> None:
        """Start tagging Spark jobs with the active span's job group."""
        self._sc = spark_context

    def _group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}:{span_id}", self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "parent": parent, "run": self.run_id,
            "iteration": self.iteration, "wall_start": time.time(),
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``name``.

        ``after(rec, args, kwargs, result)`` runs once the span has closed,
        so bookkeeping it does (counting files, say) is not timed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, result)
            return result

        setattr(owner, attr, traced)

    def self_times(self, iterations: set[int]) -> dict[str, float]:
        """Seconds per span name, minus child spans, over ``iterations``."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["iteration"] in iterations and s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def ids(self, iterations: set[int]) -> set[int]:
        """Ids of the spans recorded in ``iterations``."""
        return {s["id"] for s in self.spans if s["iteration"] in iterations}

    def subtree(self, name: str, iterations: set[int]) -> set[int]:
        """Ids of the spans called ``name`` in ``iterations``, and of every
        span nested in one of them."""
        out: set[int] = set()
        for s in self.spans:  # a parent is always recorded before its children
            if (s["name"] == name and s["iteration"] in iterations) or s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode("utf-8"))


def spark_status(spark_context) -> tuple[list[dict], list[dict]]:
    """Every job and every stage attempt from the status REST API."""
    port = spark_context.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{spark_context.applicationId}"
    return _get(f"{base}/jobs"), _get(f"{base}/stages")


def stage_metrics(tracer: Tracer, status, span_ids: set[int]) -> dict[str, float]:
    """Totals of Spark job/stage/task metrics over the jobs whose group
    names one of ``span_ids``; ``status`` is :func:`spark_status`."""
    all_jobs, all_stages = status
    wanted = {f"{tracer.run_id}:{i}" for i in span_ids}
    jobs = [j for j in all_jobs if j.get("jobGroup") in wanted]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    tot = defaultdict(float)
    tot["spark.jobs"] = len(jobs)
    for st in all_stages:
        if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
            continue
        tot["spark.stages"] += 1
        tot["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        tot["spark.failed_tasks"] += st["numFailedTasks"]
        tot["spark.executor_run_s"] += st["executorRunTime"] / 1e3
        tot["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
        tot["spark.gc_s"] += st["jvmGcTime"] / 1e3
        tot["spark.input_bytes"] += st["inputBytes"]
        tot["spark.output_bytes"] += st["outputBytes"]
        tot["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
        tot["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
        tot["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return dict(tot)
