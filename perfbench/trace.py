"""Per-layer tracing for ``--trace 1`` runs, attached from outside the
engine.

Three sources, none of which needs a change to the engine's code:

- :class:`Spans` times calls into each layer. :func:`install` wraps the
  public functions of the engine's modules (``tuning``, ``operators``,
  ``sources``, ``pipeline``, ``streaming``) and methods of ``Lake`` and
  ``ManifestLake`` by rebinding every module attribute that refers to
  them, so callers inside the package reach the wrapper too.
- :class:`SparkStats` reads Spark's in-process status store (it is kept
  even with the UI disabled) after each op: jobs, stages, tasks, task
  time, CPU, GC, shuffle, spill and input bytes, and the stage intervals
  behind the no-stage time.
- :class:`StreamStats` is a ``StreamingQueryListener`` that sums batches,
  trigger time and state-store commit time.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.common import union_length

# Each operator the dedup workload calls gets its own span name.
OPERATORS = ("minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs",
             "connected_components", "embedding_near_dup_pairs",
             "cosine_topk_arrow")


class Spans:
    """Accumulated wall time and call count per span name.

    A span opened while a span of the same name is already open on the
    same thread (a wrapped function the benchmark already spans, or a
    recursive call) is not counted again. Spans opened on different
    threads add up, so a layer used by a thread pool can show more busy
    time than wall time."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.time: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        open_names = getattr(self._local, "open", None)
        if open_names is None:
            open_names = self._local.open = set()
        if not self.enabled or name in open_names:
            yield
            return
        open_names.add(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            open_names.discard(name)
            with self._lock:
                self.time[name] += dt
                self.calls[name] += 1


def _rebind(original, replacement) -> list[tuple[object, str, object]]:
    """Point every attribute of the engine's loaded modules that refers to
    ``original`` at ``replacement``; return what to restore."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("datalake_project_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))
    return undo


def _wrap(spans: Spans, fn, name: str, skip=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if skip is not None and skip(args):
            return fn(*args, **kwargs)
        with spans.span(name):
            return fn(*args, **kwargs)
    return wrapper


def install(spans: Spans) -> list[tuple[object, str, object]]:
    """Wrap the engine's layer entry points; returns the undo list for
    :func:`uninstall`."""
    from datalake_project_spark import pipeline, tuning
    from datalake_project_spark.operators import dedup, similarity
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.sources import json_ingest
    from datalake_project_spark.streaming import ops as stream_ops

    undo: list[tuple[object, str, object]] = []

    def wrap_module_fn(module, fn_name: str, span_name: str) -> None:
        fn = getattr(module, fn_name)
        undo.extend(_rebind(fn, _wrap(spans, fn, span_name)))

    for fn_name, fn in inspect.getmembers(tuning, inspect.isfunction):
        if fn.__module__ == tuning.__name__ and not fn_name.startswith("_"):
            wrap_module_fn(tuning, fn_name, "tuning")
    for module in (dedup, similarity):
        for fn_name in OPERATORS:
            if hasattr(module, fn_name) and \
                    getattr(module, fn_name).__module__ == module.__name__:
                wrap_module_fn(module, fn_name, f"operators.{fn_name}")
    wrap_module_fn(json_ingest, "ingest_records", "sources.ingest_records")
    wrap_module_fn(pipeline, "run_pipeline", "pipeline.run")
    wrap_module_fn(stream_ops, "run_available_now", "streaming.drain")

    def not_plain_lake(args) -> bool:
        return isinstance(args[0], ManifestLake)

    for meth, span_name in (("write_formatted", "lake.write"),
                            ("write_usage", "lake.write"),
                            ("latest_run_before", "lake.latest_run_before"),
                            ("read_usage", "lake.read")):
        fn = Lake.__dict__[meth]
        setattr(Lake, meth, _wrap(spans, fn, span_name, skip=not_plain_lake))
        undo.append((Lake, meth, fn))
    for meth, span_name in (("upsert", "manifest_lake.upsert"),
                            ("scan_usage", "manifest_lake.scan_usage"),
                            ("_commit", "manifest_lake.commit")):
        fn = ManifestLake.__dict__[meth]
        setattr(ManifestLake, meth, _wrap(spans, fn, span_name))
        undo.append((ManifestLake, meth, fn))
    return undo


def uninstall(undo: list[tuple[object, str, object]]) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)


class SparkStats:
    """Deltas of Spark's status store, polled between ops."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper() \
            .registerModule(scala_module)
        self._store = sc._jsc.sc().statusStore()
        self._empty = jvm.java.util.ArrayList
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.totals: dict[str, float] = defaultdict(float)
        self.storage_after_op_mb: list[float] = []
        # mark everything that ran before tracing started as seen
        self.poll(0.0, 0.0, None)
        self.totals.clear()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def storage_mb(self) -> float:
        """Memory + disk bytes of RDD blocks (persisted frames and
        checkpoints) the block manager still holds."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def poll(self, t0: float, t1: float, build: tuple[float, float] | None) -> None:
        """Fold the stages and jobs finished since the last poll into the
        totals; [t0, t1] is the op they belong to and ``build`` the part
        of it spent inside the query's build function."""
        stages = self._json(self._store.stageList(
            self._empty(), False, False, self._no_quantiles, self._empty()))
        intervals = []
        tot = self.totals
        for s in stages:
            key = (s["stageId"], s["attemptId"])
            if key in self._seen_stages or s["status"] in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(key)
            if s.get("submissionTime") is None:
                continue  # skipped: its output was reused
            end = s.get("completionTime") or t1 * 1000
            intervals.append((s["submissionTime"] / 1000, end / 1000))
            tot["spark.stages"] += 1
            tot["spark.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            tot["spark.task_run_s"] += s["executorRunTime"] / 1e3
            tot["spark.task_cpu_s"] += s["executorCpuTime"] / 1e9
            tot["spark.gc_s"] += s["jvmGcTime"] / 1e3
            tot["spark.shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
            tot["spark.shuffle_read_mb"] += s["shuffleReadBytes"] / 2**20
            tot["spark.spill_mb"] += s["diskBytesSpilled"] / 2**20
            tot["spark.input_mb"] += s["inputBytes"] / 2**20
        for j in self._json(self._store.jobsList(self._empty())):
            if j["jobId"] in self._seen_jobs or j["status"] == "RUNNING":
                continue
            self._seen_jobs.add(j["jobId"])
            tot["spark.jobs"] += 1
            sub = (j.get("submissionTime") or 0) / 1000
            if build is not None and build[0] <= sub <= build[1]:
                tot["queries.build_jobs"] += 1
        if t1 > t0:
            tot["spark.no_stage_s"] += (t1 - t0) - union_length(intervals, t0, t1)
            self.storage_after_op_mb.append(self.storage_mb())


class StreamStats(StreamingQueryListener):
    """Sums micro-batch progress events of every streaming query."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_ms = 0.0
        self.state_commit_ms = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            self.batch_ms += p.durationMs.get("triggerExecution", 0)
            self.state_commit_ms += sum(op.commitTimeMs for op in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
