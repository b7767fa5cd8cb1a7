"""Out-of-process instrumentation for the traced run.

Nothing inside the package is instrumented: spans are recorded around the
calls the benchmark makes into the package's public functions, plus the
ones those functions make through module attributes the benchmark wraps
(``catalog.load_table``, ``streaming.ingest.load_stream`` /
``decode_payload``). Spark's own telemetry comes from a
``StreamingQueryListener`` and the UI's REST API, which is enabled only in
the traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time
import urllib.request

PKG = "kafka_hadoop_consumer_spark"


class Tracer:
    """In-memory spans: name, start, end, parent span and op id.

    A disabled tracer records nothing, so the timed and traced runs share
    one code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def patch_package(self) -> None:
        """Route the package's internal calls to wrapped public functions
        through spans, by rebinding module attributes from outside."""
        from kafka_hadoop_consumer_spark import catalog
        from kafka_hadoop_consumer_spark.streaming import ingest

        targets = {
            catalog.load_table: "catalog.load_table",
            ingest.load_stream: "sources.load_stream",
            ingest.decode_payload: "streaming.ingest.decode_payload",
        }
        wrapped = {id(fn): self.wrap(fn, name) for fn, name in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped[id(val)])

    def unpatch_package(self) -> None:
        """Restore every module attribute ``patch_package`` rebound."""
        for mod, attr, val in self._patched:
            setattr(mod, attr, val)
        self._patched.clear()

    def durations(self, name: str, timed_only: bool = True) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (not timed_only or _timed(s))]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time over timed ops: each span's duration minus
        the part of it its children cover, summed by layer."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if _timed(s):
                layer = layer_of(s["name"])
                out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _timed(span: dict) -> bool:
    return isinstance(span["op"], int)


LAYERS = ("session", "catalog", "sources", "streaming.ingest", "streaming.ops", "queries")


def layer_of(name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


# --------------------------------------------------------------------------
# streaming progress

def progress_listener(spark):
    """Register a listener that keeps every query progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def settle(listener, quiet: float = 1.0, timeout: float = 20.0) -> None:
    """Wait until no progress event has arrived for ``quiet`` seconds;
    the listener receives events asynchronously."""
    deadline = time.monotonic() + timeout
    n, since = len(listener.progress), time.monotonic()
    while time.monotonic() - since < quiet and time.monotonic() < deadline:
        time.sleep(0.05)
        if len(listener.progress) != n:
            n, since = len(listener.progress), time.monotonic()


# --------------------------------------------------------------------------
# Spark REST API (UI enabled only in the traced run)

class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def mark(self) -> dict:
        """Stage and SQL-execution ids that exist now."""
        return {"stages": {(s["stageId"], s["attemptId"]) for s in self.get("/stages")},
                "sql": max((e["id"] for e in self.get("/sql?offset=0&length=100000")),
                           default=-1)}

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the UI has caught up with finished jobs."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not any(s["status"] == "ACTIVE" for s in self.get("/stages")):
                return
            time.sleep(0.1)

    def metrics_since(self, mark: dict, wall_s: float) -> dict[str, float]:
        stages = [s for s in self.get("/stages")
                  if (s["stageId"], s["attemptId"]) not in mark["stages"]
                  and s["status"] in ("COMPLETE", "FAILED")]
        tot = lambda k: float(sum(s.get(k, 0) or 0 for s in stages))  # noqa: E731
        skew = 1.0
        for s in stages:
            if s.get("numTasks", 0) < 2:
                continue
            q = self.get(f"/stages/{s['stageId']}/{s['attemptId']}"
                         "/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            if med > 0:
                skew = max(skew, mx / med)
        run_ms = tot("executorRunTime")
        sent = returned = 0.0
        for e in self.get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            if e["id"] <= mark["sql"]:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += parse_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        returned += parse_size(m["value"])
        return {
            "spark.stages": float(len(stages)),
            "spark.tasks": tot("numCompleteTasks"),
            "spark.failed_tasks": tot("numFailedTasks"),
            "spark.executor_run_ms": run_ms,
            "spark.executor_cpu_ms": tot("executorCpuTime") / 1e6,
            "spark.gc_ms": tot("jvmGcTime"),
            "spark.shuffle_read_bytes": tot("shuffleReadBytes"),
            "spark.shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spark.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "spark.input_bytes": tot("inputBytes"),
            "spark.output_bytes": tot("outputBytes"),
            "spark.task_skew": skew,
            "spark.core_busy_share": run_ms / (wall_s * 1000.0 * self.cores) if wall_s else 0.0,
            "spark.python_bytes_sent": sent,
            "spark.python_bytes_returned": returned,
        }


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}


def parse_size(value: str) -> float:
    """A UI size metric: ``"12.3 KiB"`` or the per-task form
    ``"total (min, med, max ...)\\n12.3 KiB (...)"``; the total comes first."""
    line = value.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0
