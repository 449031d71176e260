"""Traced-run instrumentation, applied from outside the program.

A ``Tracer`` wraps the public functions of the program's layer
modules (and the ``Warehouse`` methods) at run time, so each call
records a span: name, start, end, parent and run id, held in memory
and written out once at the end.  While a span is open its id is the
Spark job group, so every job in the event log names the span that
fired it.  py4j round trips are counted per span by wrapping the
gateway client.  No program file is edited, and an untraced run
installs nothing.

``layer_metrics`` joins the spans with the uncompressed Spark event
log and derives the per-layer figures named in BENCHMARK.json.
"""

from __future__ import annotations

import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# layer name -> module; a span is named "<layer>.<function>"
LAYER_MODULES = {
    "runner": "serverless_podcast_etl_spark.pipeline.runner",
    "ingest": "serverless_podcast_etl_spark.pipeline.ingest",
    "transcripts": "serverless_podcast_etl_spark.pipeline.transcripts",
    "nlp": "serverless_podcast_etl_spark.pipeline.nlp",
    "analytics": "serverless_podcast_etl_spark.pipeline.analytics",
    "operators.windows": "serverless_podcast_etl_spark.operators.windows",
    "operators.aggregates": "serverless_podcast_etl_spark.operators.aggregates",
    "operators.joins": "serverless_podcast_etl_spark.operators.joins",
    "operators.dedup": "serverless_podcast_etl_spark.operators.dedup",
    "operators.similarity": "serverless_podcast_etl_spark.operators.similarity",
    "operators.selection": "serverless_podcast_etl_spark.operators.selection",
    "operators.retrieval": "serverless_podcast_etl_spark.operators.retrieval",
    "functions.textstats": "serverless_podcast_etl_spark.functions.textstats",
    "functions.hashing": "serverless_podcast_etl_spark.functions.hashing",
}
WAREHOUSE_METHODS = ["read", "insert_ignore", "update_rows", "next_surrogate_base"]
PACKAGE = "serverless_podcast_etl_spark"
PYTHON_SENT = "data sent to Python workers"


class Tracer:
    """Spans plus job groups plus py4j counts, for one run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._muted = False
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self, sid: int | None, name: str | None) -> None:
        t = time.perf_counter()
        self._muted = True
        try:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if sid is None else f"{self.run_id}:{sid}"
            )
            self.sc.setLocalProperty("spark.job.description", name)
        finally:
            self._muted = False
            self.self_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; a no-op while disabled."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "parent": parent, "run": self.run_id,
            "start": time.time(), "end": None, "py4j": 0, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent, None if parent is None else self.spans[parent]["name"])

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        traced.__doc__ = fn.__doc__
        return traced

    def install(self) -> None:
        """Route the layer modules' public functions, and the
        Warehouse methods, through spans, and count py4j round trips.
        Every module of the package that imported one of these
        functions by name gets the wrapper too, so direct calls are
        traced as well."""
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self.enabled and not self._muted and self._stack:
                self.spans[self._stack[-1]]["py4j"] += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        replaced: dict[int, object] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                    or hasattr(fn, "evalType")  # a pandas UDF, runs in workers
                ):
                    continue
                wrapped = self._wrap(f"{layer}.{attr}", fn)
                setattr(mod, attr, wrapped)
                replaced[id(fn)] = wrapped
        for modname, mod in list(sys.modules.items()):
            if modname.startswith(PACKAGE) and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if id(val) in replaced and inspect.isfunction(val):
                        setattr(mod, attr, replaced[id(val)])
        wh = importlib.import_module(f"{PACKAGE}.pipeline.warehouse").Warehouse
        for m in WAREHOUSE_METHODS:
            setattr(wh, m, self._wrap(f"warehouse.{m}", getattr(wh, m)))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, stage ids) and per-stage task totals from an
    uncompressed event log directory."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["task_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_SENT:
                            st["python_bytes"] += float(acc.get("Update") or 0)
    return {"jobs": jobs, "stages": stages}


# --- per-layer metrics ---------------------------------------------------


class SpanIndex:
    """Spans of one run with their jobs and subtree helpers."""

    def __init__(self, spans: list[dict], log: dict, run_id: str):
        self.spans = spans
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.jobs: dict[int, list[int]] = defaultdict(list)  # span id -> job ids
        self.stages = log["stages"]
        stage_owner: dict[int, int] = {}
        for jid in sorted(log["jobs"]):
            job = log["jobs"][jid]
            group = job["group"] or ""
            if group.startswith(run_id + ":"):
                sid = int(group.split(":")[1])
                self.jobs[sid].append(jid)
                for st in job["stages"]:
                    stage_owner.setdefault(st, jid)
        self.job_stages: dict[int, list[int]] = defaultdict(list)
        for st, jid in stage_owner.items():
            self.job_stages[jid].append(st)

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s])
        return out

    def dur(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        return self.dur(sid) - sum(self.dur(c) for c in self.children[sid])

    def job_count(self, sid: int) -> int:
        return sum(len(self.jobs[s]) for s in self.subtree(sid))

    def py4j(self, sid: int) -> int:
        return sum(self.spans[s]["py4j"] for s in self.subtree(sid))

    def stage_sum(self, sids: list[int], field: str) -> float:
        total = 0.0
        for s in sids:
            for sub in self.subtree(s):
                for jid in self.jobs[sub]:
                    total += sum(self.stages[st][field] for st in self.job_stages[jid])
        return total

    def named(self, name: str) -> list[int]:
        """Spans called ``name``, skipping those nested in another span
        of the same name (recursion would count them twice)."""
        ids = [s["id"] for s in self.spans if s["name"] == name]
        out = []
        for sid in ids:
            p = self.spans[sid]["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                out.append(sid)
        return out

    def ops(self, kind: str) -> list[int]:
        return [s["id"] for s in self.spans if s.get("op") == kind]


def layer_metrics(idx: SpanIndex, catalog_names: list[str]) -> dict[str, float]:
    """Every per-layer metric; layers a workload does not touch read 0."""
    m: dict[str, float] = {}

    def total(name: str) -> float:
        return sum(idx.dur(s) for s in idx.named(name))

    loads = idx.ops("load")
    m["spark.jobs_per_episode"] = (
        sum(idx.job_count(s) for s in loads) / len(loads) if loads else 0.0
    )
    in_bytes = sum(idx.spans[s].get("input_bytes", 0) for s in loads)
    m["ml_udfs.python_bytes_per_input_byte"] = (
        idx.stage_sum(loads, "python_bytes") / in_bytes if in_bytes else 0.0
    )
    for name in [
        "warehouse.insert_ignore", "warehouse.update_rows", "warehouse.read",
        "runner.run_nlp", "runner.run_transcription", "ingest.ingest_metadata",
    ]:
        m[f"{name}_s"] = total(name)

    requests = idx.ops("request")
    construct, execute = [], []
    for r in requests:
        kids = idx.children[r]
        construct.append(sum(idx.dur(c) for c in kids if idx.spans[c]["name"].startswith("analytics.")))
        execute.append(sum(idx.dur(c) for c in kids if idx.spans[c]["name"] == "collect"))
    m["analytics.construct_ms"] = 1000 * statistics.median(construct) if construct else 0.0
    m["analytics.execute_ms"] = 1000 * statistics.median(execute) if execute else 0.0
    m["spark.jobs_per_request"] = (
        sum(idx.job_count(r) for r in requests) / len(requests) if requests else 0.0
    )

    for q in catalog_names:
        key = q.split("_")[0]
        cons = [s for s in idx.named("construct") if idx.spans[s].get("query") == q]
        exe = [s for s in idx.named("execute") if idx.spans[s].get("query") == q]
        m[f"catalog.{key}.construct_s"] = sum(idx.dur(s) for s in cons)
        m[f"catalog.{key}.execute_s"] = sum(idx.dur(s) for s in exe)
        m[f"catalog.{key}.eager_jobs"] = float(sum(idx.job_count(s) for s in cons))
        m[f"catalog.{key}.py4j_calls"] = float(sum(idx.py4j(s) for s in cons))

    for layer in ["operators.dedup", "operators.similarity", "operators.selection", "operators.retrieval"]:
        m[f"{layer}.self_s"] = sum(
            idx.self_time(s["id"]) for s in idx.spans if s["name"].startswith(layer + ".")
        )

    roots = [s["id"] for s in idx.spans if s["parent"] is None]
    m["spark.task_s"] = idx.stage_sum(roots, "task_ms") / 1000
    m["spark.shuffle_bytes"] = idx.stage_sum(roots, "shuffle_bytes")
    m["spark.spill_bytes"] = idx.stage_sum(roots, "spill_bytes")
    m["trace.spans"] = float(len(idx.spans))
    return m


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "_per_input_byte" in name:
        return "ratio"
    if name.endswith("bytes") or name.endswith("bytes_stored"):
        return "bytes"
    return "count"
