"""Tracing from outside the program: spans around the public functions
of its layers, plus Spark's own status stores read per operation.

``Tracer.install`` wraps every public function of the layer modules
(``sources``, ``operators.{migrate,dedup,similarity,text}``, ``util``)
in place, including the references other modules of the package took
with ``from x import f``; ``uninstall`` restores the originals. A span
records (name, start, end, parent, op id) in memory plus the Spark jobs
started inside it; spans are written out only when the run ends.

DataFrame operators are lazy, so a wrapped call's span covers only
Spark-driver-side work (planning, decision-gate jobs, eager writes). The
execution lands in the operation's sink span and is split with the
status stores: the core ``AppStatusStore`` for jobs, stages and task
metrics, and the SQL store (populated with the UI off) for per-operator
metrics such as the Python worker boot/init/run times.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "cassandra_migrate_keyspace_from_cluster_spark"

# module suffix -> layer name used in metric names
LAYERS = {
    "sources.parquet_keyspace": "sources",
    "sources.cluster_source": "sources",
    "sources.commitlog_stream": "sources",
    "sources.cassandra": "sources",
    "operators.migrate": "migrate",
    "operators.dedup": "dedup",
    "operators.similarity": "similarity",
    "operators.text": "text",
    "util": "util",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""
    jobs: int = 0
    job_lo: int = 0
    job_hi: int = 0

    def as_dict(self, idx: int) -> dict:
        return {"id": idx, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "op": self.op, "jobs": self.jobs}


@dataclass
class OpTrace:
    """Everything recorded for one operation in one traced pass."""

    op: str
    plan_s: float = 0.0
    exec_s: float = 0.0
    counters: dict = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
          "TiB": 1024**4}
_METRIC_RE = re.compile(r"(-?[\d,]*\.?\d+)\s*(ns|µs|us|ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


def parse_sql_metric(text: str | None) -> float:
    """A SQL metric's display string as seconds, bytes or a plain count.
    Multi-task metrics read "total (min, med, max ...)\\n<total> (...)"."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1]
    m = _METRIC_RE.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


# SQL metric name -> counter key
_SQL_METRICS = {
    "time to start Python workers": "python.worker_boot_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.udf_run_s",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "number of written files": "write.files",
    "written output": "write.bytes",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = spark.sparkContext._jvm
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.op = ""
        self.current: OpTrace | None = None

    # ---------------------------------------------------------------- spans
    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    def next_stage(self) -> int:
        return int(self._dag.nextStageId())

    def _stack(self) -> list[int]:
        # per thread: operators submit jobs from thread pools (a13)
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        span = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                    op=self.op, job_lo=self.next_job())
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> Span:
        s = self.spans[idx]
        s.end = time.perf_counter()
        s.job_hi = self.next_job()
        s.jobs = s.job_hi - s.job_lo
        self._stack().pop()
        return s

    def _inside(self, idx: int, layer: str) -> bool:
        p = self.spans[idx].parent
        while p is not None:
            if self.spans[p].name.split(".", 1)[0] == layer:
                return True
            p = self.spans[p].parent
        return False

    # ------------------------------------------------------------- wrapping
    def _wrap(self, layer: str, name: str, fn):
        tracer = self
        span_name = f"{layer}.{name}"

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if name in ("auto_cosine_topk", "auto_neardup") and kwargs.get("chosen") is None:
                kwargs["chosen"] = {}
            persisted = None
            if name == "bounded_persist":
                persisted = len(sys.modules[f"{PKG}.util"]._PERSISTED)
            idx = tracer.open(span_name)
            try:
                out = fn(*args, **kwargs)
            finally:
                span = tracer.close(idx)
            tracer._account(layer, name, idx, span, out, args, kwargs, persisted)
            return out

        return wrapped

    def _account(self, layer, name, idx, span, out, args, kwargs, persisted) -> None:
        cur = self.current
        if cur is None:
            return
        dur = span.end - span.start
        if not self._inside(idx, layer):
            cur.add(f"{layer}.call_s", dur)
            cur.add(f"{layer}.gate_jobs", span.jobs)
            if layer == "migrate":
                cur.counters.setdefault("_migrate_jobs", []).append((span.job_lo, span.job_hi))
        if name == "load_table":
            cur.add("sources.load_table_calls", 1)
            cur.add("sources.load_table_s", dur)
            if self._inside(idx, "migrate") and len(args) >= 3:
                cur.add("migrate.source_bytes", _table_bytes(args[1], args[2]))
        elif name == "minhash_band_candidates":
            cur.counters.setdefault("_candidates", []).append(out)
        elif name == "bounded_persist":
            after = len(sys.modules[f"{PKG}.util"]._PERSISTED)
            cur.add("util.persist_calls", 1)
            cur.add("util.persist_evictions", max(0, persisted + 1 - after))
        elif name == "minhash_signatures_wide":
            plan = out._jdf.queryExecution().analyzed().toString()
            path = "broadcast" if "strategy=broadcast" in plan else "inline"
            cur.add(f"dedup.minhash_{path}_calls", 1)
        elif name == "auto_cosine_topk":
            cur.add(f"similarity.tier_{kwargs['chosen'].get('tier')}_calls", 1)
        elif name == "auto_neardup":
            cur.add(f"dedup.tier_{kwargs['chosen'].get('tier')}_calls", 1)

    def install(self) -> None:
        mods = {k: sys.modules.get(f"{PKG}.{k}") for k in LAYERS}
        originals = {}
        for suffix, mod in mods.items():
            if mod is None:
                continue
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                originals[id(fn)] = (fn, self._wrap(LAYERS[suffix], name, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for name, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, value))

    def uninstall(self) -> None:
        for mod, name, value in reversed(self._patched):
            setattr(mod, name, value)
        self._patched.clear()

    # ------------------------------------------------------- status stores
    def begin_op(self, op: str) -> OpTrace:
        self.op = op
        self.current = OpTrace(op)
        self._marks = (self.next_job(), self.next_stage(), int(self._sql.executionsCount()))
        return self.current

    def end_op(self, result=None) -> OpTrace:
        """Read the status stores for everything the op started. When
        the op built LSH candidates, count them and the op's result
        rows (two extra jobs, outside every span)."""
        cur, (j0, s0, e0) = self.current, self._marks
        cands = cur.counters.pop("_candidates", [])
        j1, s1, e1 = self.next_job(), self.next_stage(), int(self._sql.executionsCount())
        c = cur.counters
        cur.add("spark.jobs", j1 - j0)
        empty = self._jvm.java.util.ArrayList()
        no_q = self.spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        migrate_jobs = c.pop("_migrate_jobs", [])
        for sid in range(s0, s1):
            try:
                attempts = self._store.stageData(sid, False, empty, False, no_q)
            except Exception:  # noqa: BLE001 - skipped stage has no data
                continue
            if attempts.isEmpty():
                continue
            cur.add("spark.stages", 1)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                cur.add("spark.tasks", st.numCompleteTasks())
                cur.add("spark.task_run_s", st.executorRunTime() / 1e3)
                cur.add("spark.task_cpu_s", st.executorCpuTime() / 1e9)
                cur.add("spark.gc_s", st.jvmGcTime() / 1e3)
                cur.add("spark.shuffle_read_bytes",
                        st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead())
                cur.add("spark.shuffle_write_bytes", st.shuffleWriteBytes())
                cur.add("spark.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
                if st.inputBytes() > 0:
                    cur.add("sources.input_bytes", st.inputBytes())
                    cur.add("sources.scan_tasks", st.numCompleteTasks())
        if e1 > e0:
            execs = self._sql.executionsList(e0, e1 - e0)
            for i in range(execs.size()):
                self._read_execution(execs.apply(i), migrate_jobs)
        if cands and result is not None:
            n_cand = sum(c.count() for c in cands)
            if n_cand:
                cur.add("dedup.verified_per_candidate", result.count() / n_cand)
        self.current = None
        self.op = ""
        return cur

    def _read_execution(self, ex, migrate_jobs) -> None:
        cur = self.current
        eid = ex.executionId()
        values = self._sql.executionMetrics(eid)
        jobs = ex.jobs().keySet().toSeq()
        job_ids = [int(jobs.apply(i)) for i in range(jobs.size())]
        in_migrate = any(lo <= j < hi for j in job_ids for lo, hi in migrate_jobs)
        nodes = self._sql.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _SQL_METRICS.get(m.name())
                if key is None:
                    continue
                val = values.get(m.accumulatorId())
                v = parse_sql_metric(val.get() if val.isDefined() else None)
                if key.startswith("write."):
                    if in_migrate:
                        cur.add("migrate.output_" + key.split(".")[1], v)
                else:
                    cur.add(key, v)

    def spans_as_dicts(self) -> list[dict]:
        return [s.as_dict(i) for i, s in enumerate(self.spans)]


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a keyspace table (one file or a dir of parts)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))

