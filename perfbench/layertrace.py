"""Outside-in tracing for the benchmark's traced pass.

Nothing in the program is edited. The tracer wraps the public functions
of each layer where their callers resolve them, counts py4j round trips
on the gateway client, and reads Spark's own status stores and a
streaming listener. All of it is installed for one warm pass and
removed afterwards; spans stay in memory until :meth:`Tracer.dump`.

Layers and where their numbers come from:

- ``build`` / ``exec``: the ``queries()`` call and the noop write of
  each key, timed here; py4j calls counted on the gateway client.
- ``spark.*``: stage, job and task counts, diffed from
  ``SparkContext.statusStore()`` before and after each key. Keys run
  one at a time, so stream-thread jobs land on the key that started
  them.
- ``catalog.load_table`` and ``sqldml.run_dml``: wrapped in every
  program module that holds a reference to them.
- ``manifest.*``: every public ``VersionedTable`` method gets a span;
  outermost DML/DDL calls add to ``manifest.write``, outermost reads to
  ``manifest.read``.
- ``stream.*``: a ``StreamingQueryListener`` sums each micro-batch's
  progress.
- ``python.*``: Python-runner SQL metrics from the SQL status store.
- ``cache.tracked``: ``cache.tracked_count()`` after each build.

The benchmark's own py4j traffic (status-store reads, listener event
decoding) runs under :meth:`Tracer.bookkeeping` and is not counted.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: VersionedTable methods that commit (DML and DDL).
MANIFEST_WRITES = frozenset(
    """create append copy_into upsert overwrite restore clone deep_clone
    add_column set_properties unset_properties add_constraint
    drop_constraint analyze rename_column drop_column widen_column
    register_bucketed set_partition_spec delete overwrite_where merge
    update optimize vacuum""".split()
)

#: Streaming progress phases summed into ``stream.<phase>_ms``.
STREAM_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
)

#: SQL metric names of Spark's Python runners -> per-layer metric.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

#: Every per-layer metric a traced pass reports, with its unit.
LAYER_METRICS = {
    "build.s": "s",
    "build.py4j_calls": "count",
    "exec.s": "s",
    "exec.py4j_calls": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "manifest.write.calls": "count",
    "manifest.write_s": "s",
    "manifest.read.calls": "count",
    "manifest.read_s": "s",
    "sqldml.run_dml.calls": "count",
    "sqldml.run_dml.s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    **{f"stream.{p}_ms": "ms" for p in STREAM_PHASES},
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "cache.tracked": "count",
    "host.canary_s": "s",
    "trace.overhead_s": "s",
    "jvm_peak_rss_mb": "MiB",
}

_UNIT_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric, in seconds or bytes.

    The status store keeps metrics as display strings: ``'1.8 s'``, or
    for multi-task stages ``'total (min, med, max ...)\\n1.8 s (...)'``,
    where the first number after the newline is the total."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


class Tracer:
    """Spans and per-key counters for one traced pass of a workload."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.keys: dict[str, dict] = {}
        self._local = threading.local()
        self._py4j = 0
        self._key: str | None = None
        self._restore: list = []
        self._stream: dict[str, dict] = {}
        self._lock = threading.Lock()
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._json = mapper

    # -- py4j counting ---------------------------------------------------
    @contextmanager
    def bookkeeping(self):
        """Py4j calls made inside this block are the benchmark's own."""
        prev = getattr(self._local, "bench", False)
        self._local.bench = True
        try:
            yield
        finally:
            self._local.bench = prev

    def _count_py4j(self, send):
        @functools.wraps(send)
        def counted(*args, **kwargs):
            if not getattr(self._local, "bench", False):
                with self._lock:
                    self._py4j += 1
            return send(*args, **kwargs)

        return counted

    # -- install / remove ------------------------------------------------
    def install(self) -> None:
        from pyspark import SparkContext
        from pyspark.java_gateway import ensure_callback_server_started

        client = SparkContext._gateway._gateway_client
        client.send_command = self._count_py4j(client.send_command)
        self._restore.append(lambda: delattr(client, "send_command"))

        from social_media_etl_spark import catalog
        from social_media_etl_spark.operators import manifest, sqldml

        self._wrap_everywhere(catalog.load_table, "catalog.load_table", "catalog.load_table.s")
        self._wrap_everywhere(sqldml.run_dml, "sqldml.run_dml", "sqldml.run_dml.s")
        self._wrap_class(manifest.VersionedTable)

        with self.bookkeeping():
            ensure_callback_server_started(SparkContext._gateway)
            jlistener = self.sc._jvm.org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper(
                _StreamListener(self)
            )
            jsqm = self.spark.streams._jsqm
            jsqm.addListener(jlistener)
        self._restore.append(lambda: self._unlisten(jsqm, jlistener))

    def _unlisten(self, jsqm, jlistener) -> None:
        with self.bookkeeping():
            jsqm.removeListener(jlistener)

    def remove(self) -> None:
        while self._restore:
            self._restore.pop()()

    def _wrap_everywhere(self, fn, name: str, seconds: str) -> None:
        """Replace ``fn`` in every program module that bound it by name,
        so callers that imported it directly are traced too."""
        wrapped = self._wrap(fn, name, name, seconds)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname == "__spark_entry__" or mname.startswith("social_media_etl_spark")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)
                    self._restore.append(functools.partial(setattr, mod, attr, fn))

    def _wrap_class(self, cls) -> None:
        for attr, val in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if attr in MANIFEST_WRITES:
                args = (f"VersionedTable.{attr}", "manifest.write", "manifest.write_s")
            elif attr.startswith("read") or attr == "history":
                args = (f"VersionedTable.{attr}", "manifest.read", "manifest.read_s")
            else:
                args = (f"VersionedTable.{attr}", None, None)
            if isinstance(val, classmethod):
                new = classmethod(self._wrap(val.__func__, *args))
            elif isinstance(val, staticmethod):
                new = staticmethod(self._wrap(val.__func__, *args))
            elif callable(val) and not isinstance(val, type):
                new = self._wrap(val, *args)
            else:
                continue
            setattr(cls, attr, new)
            self._restore.append(functools.partial(setattr, cls, attr, val))

    def _wrap(self, fn, span: str, layer: str | None, seconds: str | None):
        """Span every call. A call of ``layer`` with no enclosing call of
        the same module (a read inside a merge is the merge's time) also
        adds to ``<layer>.calls`` and to the key's ``seconds`` metric."""
        family = layer.split(".")[0] if layer else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            outermost = layer is not None and not any(
                (self.spans[i]["layer"] or "").split(".")[0] == family
                for i in self._thread_stack()
            )
            with self.span(span, layer=layer) as rec:
                out = fn(*args, **kwargs)
            if outermost and self._key is not None:
                acc = self.keys[self._key]
                acc[f"{layer}.calls"] += 1
                acc[seconds] += rec["end"] - rec["start"]
            return out

        return traced

    # -- spans -----------------------------------------------------------
    def _thread_stack(self) -> list[int]:
        """Open span ids of the calling thread (foreachBatch callbacks run
        on py4j callback threads beside the main one)."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        stack = self._thread_stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "parent": stack[-1] if stack else None,
                "key": self._key,
                "name": name,
                "layer": layer,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextmanager
    def key(self, name: str):
        """One key: a ``key`` span whose children are ``build``/``exec``
        and the layer calls they make; counters land in ``keys[name]``."""
        acc = self.keys[name] = defaultdict(float)
        before = self._snapshot()
        self._key = name
        try:
            with self.span("key") as rec:
                yield acc
        finally:
            # the snapshot drains the listener bus, so progress events
            # still queued for this key's drains land on it
            after = self._snapshot()
            self._key = None
            self._fold_spark(acc, before, after)
            self._fold_stream(acc)
            rec["counts"] = dict(acc)

    @contextmanager
    def phase(self, name: str):
        """``build`` or ``exec`` of the current key: time and py4j calls."""
        acc = self.keys[self._key]
        p0 = self._py4j
        with self.span(name) as rec:
            yield
        acc[f"{name}.s"] += rec["end"] - rec["start"]
        acc[f"{name}.py4j_calls"] += self._py4j - p0

    # -- Spark status stores ---------------------------------------------
    def _snapshot(self) -> dict:
        """Jobs and stages in the status store and the newest job, stage
        and SQL execution ids, once the listener bus has delivered every
        event posted so far."""
        with self.bookkeeping():
            self._jsc.listenerBus().waitUntilEmpty()
            store = self._jsc.statusStore()
            # py4j passes no Scala default arguments: fetch them
            defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
            stages = self._as_json(store.stageList(None, *defaults))
            jobs = self._as_json(store.jobsList(None))
            n = self._sql_store.executionsCount()
            last = self._sql_store.executionsList(n - 1, 1).head().executionId() if n else -1
            return {
                "stages": stages,
                "jobs": jobs,
                "job": max((j["jobId"] for j in jobs), default=-1),
                "stage": max((s["stageId"] for s in stages), default=-1),
                "execution": last,
            }

    def _as_json(self, jobj):
        return json.loads(self._json.writeValueAsString(jobj))

    def _fold_spark(self, acc, before: dict, after: dict) -> None:
        acc["spark.jobs"] += sum(1 for j in after["jobs"] if j["jobId"] > before["job"])
        for s in after["stages"]:
            if s["stageId"] <= before["stage"] or s["status"] == "SKIPPED":
                continue
            acc["spark.stages"] += 1
            acc["spark.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
            acc["spark.failed_tasks"] += s["numFailedTasks"]
            acc["spark.task_run_s"] += s["executorRunTime"] / 1e3
            acc["spark.task_cpu_s"] += s["executorCpuTime"] / 1e9
            acc["spark.gc_s"] += s["jvmGcTime"] / 1e3
            acc["spark.input_bytes"] += s["inputBytes"]
            acc["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
            acc["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            acc["spark.output_bytes"] += s["outputBytes"]
        with self.bookkeeping():
            for eid in range(before["execution"] + 1, after["execution"] + 1):
                self._fold_python(acc, eid)

    def _fold_python(self, acc, eid: int) -> None:
        found = self._sql_store.execution(eid)
        if not found.isDefined():
            return
        metrics = self._as_json(found.get().metrics())
        wanted = {
            str(m["accumulatorId"]): PYTHON_SQL_METRICS[m["name"]]
            for m in metrics
            if m["name"] in PYTHON_SQL_METRICS
        }
        if not wanted:
            return
        values = self._as_json(self._sql_store.executionMetrics(eid))
        for acc_id, metric in wanted.items():
            if acc_id in values:
                acc[metric] += parse_sql_metric(values[acc_id])

    # -- streaming -------------------------------------------------------
    def on_progress(self, p: dict) -> None:
        with self._lock:
            key = self._key
            if key is None:
                return
            acc = self.keys[key]
            acc["stream.batches"] += 1
            acc["stream.input_rows"] += p.get("numInputRows") or 0
            for phase in STREAM_PHASES:
                acc[f"stream.{phase}_ms"] += (p.get("durationMs") or {}).get(phase, 0)
            # state size is a level: keep each query run's latest figure
            self._stream[p["runId"]] = {
                "rows": sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])),
                "bytes": sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", [])),
            }

    def _fold_stream(self, acc) -> None:
        with self._lock:
            for s in self._stream.values():
                acc["stream.state_rows"] += s["rows"]
                acc["stream.state_memory_bytes"] += s["bytes"]
            self._stream.clear()

    # -- output ----------------------------------------------------------
    def totals(self) -> dict[str, float]:
        out = {m: 0.0 for m in LAYER_METRICS}
        for acc in self.keys.values():
            for m, v in acc.items():
                out[m] += v
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write the spans, times relative to the first; each ``key`` span
        carries that key's counters under ``counts``."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


class _StreamListener:
    """Py4j implementation of ``PythonStreamingQueryListener`` that
    decodes each progress event with two py4j calls, under the tracer's
    bookkeeping flag, instead of pyspark's per-field event decoding."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, jevent):
        pass

    def onQueryProgress(self, jevent):
        with self.tracer.bookkeeping():
            progress = json.loads(jevent.progress().json())
        self.tracer.on_progress(progress)

    def onQueryIdle(self, jevent):
        pass

    def onQueryTerminated(self, jevent):
        pass

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]
