"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded around the public functions of each layer module by
wrapping them at runtime; no library file changes. A span records its
name, start, end, parent span and request id, and stays in memory until
the run writes the trace out. Every traced request runs under its own
Spark job group, so the Spark work of one request (jobs, stages, tasks,
executor run time, shuffle, spill and Python-UDF rows and bytes) is read
back from the status tracker and the status stores after it ends; the UI
is off, so there is no REST API to ask.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time

from py4j.protocol import Py4JJavaError

#: (module, attribute path, span name). The span name's first part is the
#: layer the function belongs to.
TARGETS = [
    ("linkml_store_spark.collection", "Collection.query", "collection.query"),
    ("linkml_store_spark.collection", "Collection.query_facets", "collection.query_facets"),
    ("linkml_store_spark.collection", "Collection.knn_search", "collection.knn_search"),
    ("linkml_store_spark.collection", "Collection.search", "collection.search"),
    ("linkml_store_spark.collection", "Collection.insert", "collection.insert"),
    ("linkml_store_spark.collection", "Collection.upsert", "collection.upsert"),
    ("linkml_store_spark.collection", "Collection.delete_where", "collection.delete_where"),
    ("linkml_store_spark.where", "compile_where", "where.compile_where"),
    ("linkml_store_spark.operators.localexec", "compile_where_local", "where.compile_where_local"),
    ("linkml_store_spark.operators.localexec", "local_count", "localtier.local_count"),
    ("linkml_store_spark.operators.localexec", "local_page", "localtier.local_page"),
    ("linkml_store_spark.operators.localexec", "local_count_page", "localtier.local_count_page"),
    ("linkml_store_spark.operators.localexec", "local_facets", "localtier.local_facets"),
    ("linkml_store_spark.operators.localexec", "local_group_agg", "localtier.local_group_agg"),
    ("linkml_store_spark.operators.localexec", "local_knn", "localtier.local_knn"),
    ("linkml_store_spark.operators.arrowagg", "ab_winner", "ab.ab_winner"),
    ("linkml_store_spark.operators.arrowagg", "record_ab_winner", "ab.record_ab_winner"),
    ("linkml_store_spark.database", "Database._save_collection_df", "store.save"),
    ("linkml_store_spark.index.indexer", "SimpleIndexer.text_to_vector", "index.text_to_vector"),
    ("linkml_store_spark.index.indexer", "Indexer.index_dataframe", "index.index_dataframe"),
    ("linkml_store_spark.index.search", "vector_search", "index.vector_search"),
]

_PY_SENT = "data sent to Python workers"
_PY_ROWS = "number of output rows"
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_number(text):
    """The total of one SQL metric as Spark formats it: a plain count
    (``1,234``) or a size with a ``total (min, med, max ...)`` header."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


def _sidecar_written(start, spark, files, *args, **kwargs):
    """Whether ``record_ab_winner`` (re)wrote the store's winner sidecar."""
    import os

    from linkml_store_spark.operators.arrowagg import AB_SIDECAR

    d = os.path.dirname(files[0].removeprefix("file:"))
    try:
        mtime = os.stat(os.path.join(d, AB_SIDECAR)).st_mtime
    except OSError:
        return False
    return mtime >= time.time() - (time.perf_counter() - start) - 0.01


#: span name -> hook run after the wrapped call; its result is the span's
#: ``extra`` field
_AFTER = {"ab.record_ab_winner": _sidecar_written}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        #: [request id, span id, parent span id, name, start, end, extra]
        self.spans = []
        self.requests = []  # one dict per traced request
        self.active = False
        self._rid = None
        self._first_span = 0
        self._stack = []
        self._patched = []
        self._sql_seen = -1

    # ------------------------------------------------------------- spans --
    def _wrap(self, fn, name):
        tracer = self
        after = _AFTER.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = [tracer._rid, len(tracer.spans),
                    tracer._stack[-1][1] if tracer._stack else None,
                    name, time.perf_counter(), None, None]
            tracer.spans.append(span)
            tracer._stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span[5] = time.perf_counter()
                tracer._stack.pop()
                if after is not None:
                    span[6] = after(span[4], *args, **kwargs)

        return traced

    def install(self):
        """Wrap every target, in its own module and wherever another module
        bound the same function object by name at import time."""
        import importlib

        for mod_name, path, span_name in TARGETS:
            owner = importlib.import_module(mod_name)
            *cls_path, attr = path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            wrapped = self._wrap(original, span_name)
            self._patch(owner, attr, original, wrapped)
            if cls_path:
                continue
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("linkml_store_spark")
                        and mod is not owner
                        and getattr(mod, attr, None) is original):
                    self._patch(mod, attr, original, wrapped)

    def _patch(self, owner, attr, original, wrapped):
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, original))

    def uninstall(self):
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ---------------------------------------------------------- requests --
    def begin(self, rid, kind):
        self._rid = rid
        self._first_span = len(self.spans)
        self.sc.setJobGroup(f"crudsibench-{rid}", kind)
        self.active = True

    def end(self, kind, shape, wall_s):
        self.active = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        req = {"rid": self._rid, "kind": kind, "shape": shape, "wall_s": wall_s}
        req.update(span_totals(self.spans[self._first_span:]))
        req.update(self._spark_counters(f"crudsibench-{self._rid}"))
        self.requests.append(req)

    def _spark_counters(self, group):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
               "job_ms": 0.0, "shuffle_read_b": 0.0, "shuffle_write_b": 0.0,
               "spill_b": 0.0, "udf_rows": 0.0, "udf_bytes": 0.0}
        job_ids = set(tracker.getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_read_b"] += st.shuffleReadBytes()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if job_ids:
            out["udf_rows"], out["udf_bytes"] = self._python_udf_volume(job_ids)
        return out

    def _python_udf_volume(self, job_ids):
        """Rows and bytes the request's SQL executions passed through
        Python-evaluation nodes (the nodes that carry Spark's
        ``data sent to Python workers`` metric)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        recent = sql.executionsList(max(0, count - 64), 64)
        rows = sent = 0.0
        for i in range(recent.length()):
            ex = recent.apply(i)
            eid = ex.executionId()
            if eid <= self._sql_seen:
                continue
            jobs = ex.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            self._sql_seen = max(self._sql_seen, eid)
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.length()):
                metrics = nodes.apply(n).metrics()
                names = {}
                for k in range(metrics.length()):
                    m = metrics.apply(k)
                    names[m.name()] = m.accumulatorId()
                if _PY_SENT not in names:
                    continue
                for name, acc in names.items():
                    v = values.get(acc)
                    if not v.isDefined():
                        continue
                    if name == _PY_SENT:
                        sent += _metric_number(v.get())
                    elif name == _PY_ROWS:
                        rows += _metric_number(v.get())
        return rows, sent

    def write(self, path):
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "requests": self.requests}, fh)


#: layers whose time is summed per request (outermost spans only, so a
#: nested call of the same layer is not counted twice)
LAYERS = ("collection", "where", "localtier", "ab", "store", "index")


def span_totals(spans):
    """Per-request figures from one request's spans."""
    by_id = {s[1]: s for s in spans}
    out = {f"{layer}_s": 0.0 for layer in LAYERS}
    calls = {}
    for s in spans:
        name = s[3]
        calls[name] = calls.get(name, 0) + 1
        layer = name.split(".", 1)[0]
        parent = by_id.get(s[2])
        while parent is not None and not parent[3].startswith(layer + "."):
            parent = by_id.get(parent[2])
        if parent is None and s[5] is not None:
            out[f"{layer}_s"] += s[5] - s[4]
    out["calls"] = calls
    out["sidecar_writes"] = sum(1 for s in spans if s[3] == "ab.record_ab_winner" and s[6])
    out["text_to_vector_s"] = sum(s[5] - s[4] for s in spans if s[3] == "index.text_to_vector")
    return out

