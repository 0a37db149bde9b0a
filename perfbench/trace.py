"""Spans recorded from outside the engine.

The traced run wraps public callables (function arguments, a sink proxy
and module attributes the streaming job looks up at call time) so that
each call into a layer becomes a span. Spans live in memory and are
written out when the run ends. Each wrapper also sets a Spark job group,
so executor time can be attributed per layer through the REST API.
With tracing off every helper here is a pass-through.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import threading
import time
import urllib.request
from pathlib import Path

PACKAGE = "cga_kinesis_to_elasticsearch_spark"
GROUP_PREFIX = "bench:"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **{k: v for k, v in attrs.items() if v is not None},
        }
        if parent is not None:
            for key in ("batch", "request"):
                if key in parent and key not in rec:
                    rec[key] = parent[key]
        if "batch" not in rec and getattr(self._local, "batch", None) is not None:
            rec["batch"] = self._local.batch
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(GROUP_PREFIX + name, name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, starts_batch: bool = False):
        """``fn`` recording a span per call. With ``starts_batch`` each call
        opens a new micro-batch: later spans on the thread carry its id."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if starts_batch:
                self._local.batch = getattr(self._local, "batch", -1) + 1
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module: str, attr: str, name: str) -> None:
        """Wrap ``<package>.<module>.<attr>`` in place until ``restore``."""
        if not self.enabled:
            return
        mod = importlib.import_module(f"{PACKAGE}.{module}")
        orig = getattr(mod, attr)
        self._patched.append((mod, attr, orig))
        setattr(mod, attr, self.wrap(name, orig))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- analysis ------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    def executor_ms_by_group(self) -> dict[str, float]:
        """Executor run time per job group, from the Spark REST API
        (stages of each job, summed per group)."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path: str):
            with urllib.request.urlopen(base + path, timeout=10) as r:
                return json.loads(r.read().decode())

        stage_ms = {
            st["stageId"]: st.get("executorRunTime", 0)
            for st in get("/stages?status=complete")
        }
        out: dict[str, float] = {}
        for job in get("/jobs"):
            grp = job.get("jobGroup") or ""
            ms = sum(stage_ms.get(sid, 0) for sid in job.get("stageIds", []))
            out[grp] = out.get(grp, 0.0) + ms
        return out


class TracedSink:
    """Proxy around ``ParquetIndexSink`` that records a span for each
    call into the sink's public methods."""

    _TRACED = {
        "write": "sink.write",
        "ensure_indices": "sink.ensure_indices",
        "write_errors": "sink.write_errors",
        "drop_expired": "retention",
    }

    def __init__(self, sink, tracer: Tracer):
        self._sink = sink
        self._tracer = tracer

    def __getattr__(self, attr):
        value = getattr(self._sink, attr)
        name = self._TRACED.get(attr)
        return self._tracer.wrap(name, value) if name else value
