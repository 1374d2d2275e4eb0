"""spark-graft benchmark: closed-loop workloads over the program's
registry queries, with output checks and an optional traced run.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 5 --trace 0

One process, one client, ``local[nproc]``, one operation at a time.
Every operation is ``registry.queries()[name](spark, sf_dir)`` followed
by a ``noop`` sink, after ``util.drain_persisted()`` and
``spark.catalog.clearCache()``. Operations are timed in CPU seconds of
the program's processes as well as in wall time; the end-to-end metrics
use the CPU figures, which the time a shared host steals from the
machine moves far less. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a JSON report with the host, inputs, per-pass and per-operation figures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "cassandra_migrate_keyspace_from_cluster_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)

import gen  # noqa: E402
import numpy as np  # noqa: E402

# ----------------------------------------------------------------- workloads
# Operation lists, in pass order.
OPS = {
    "migrate": ["a13_full_keyspace_copy", "a4_copy_roundtrip", "a1_cluster_scan"],
    "llm_corpus": ["f24_minhash_pinned_lsh", "f8_tfidf", "f4d_auto_tier"],
}

# Timed passes run for --seconds, and at least MIN_TIMED_PASSES of them,
# after the first pass and the check pass (every operation once more,
# with its output check), which is also their warm-up. The JIT is still
# compiling then: a pass's CPU cost still falls by a tenth from one pass
# to the next. BENCHMARK.json's run_seconds is shorter than two passes,
# so every run times two and its medians do not depend on how many
# passes a host fits in.
MIN_TIMED_PASSES = 2

# Input sizes. migrate enlarges a fixture-shaped base (FIXTURES.md
# schemas and value domains) and deals every table into part files;
# llm_corpus is a documents table over a 1,500-word vocabulary, sized
# past the MinHash vocabulary budget and dealt into part files the same
# way, plus a fixture-shaped embeddings table. The seed sets row order
# and which rows land in which part; the row CONTENT is fixed per
# generator version so the expected output hashes are computed once per
# checkout.
MIGRATE_BASE_SF = 0.01
MIGRATE_FACTOR = 2
MIGRATE_PARTS = 8
LLM_DOCS = 5000
LLM_VOCAB = 1500
LLM_NEARDUP_SHARE = 0.15
LLM_EMBEDDINGS = 2000
LLM_PARTS = 8
FIXTURE_SEED = 42
GEN_VERSION = "2"

END_TO_END = {
    "setup_s": "s", "first_pass_cpu_s": "s", "pass_cpu_s": "s",
    "rows_per_cpu_s": "1/s", "peak_rss_mb": "MB",
}

LAYER_METRICS = {
    "session.build_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s",
    "sources.input_bytes": "bytes", "sources.scan_tasks": "count",
    "migrate.call_s": "s", "migrate.output_bytes": "bytes",
    "migrate.output_files": "count", "migrate.write_amp": "ratio",
    "dedup.call_s": "s", "dedup.gate_jobs": "count",
    "dedup.verified_per_candidate": "ratio",
    "dedup.minhash_broadcast_calls": "count", "dedup.minhash_inline_calls": "count",
    "dedup.tier_postings_calls": "count", "dedup.tier_prefix_calls": "count",
    "dedup.tier_lsh_calls": "count",
    "similarity.call_s": "s", "similarity.gate_jobs": "count",
    "similarity.tier_exact_broadcast_calls": "count",
    "similarity.tier_exact_chunked_calls": "count",
    "similarity.tier_ivf_calls": "count", "similarity.tier_pq_calls": "count",
    "text.call_s": "s",
    "util.persist_calls": "count", "util.persist_evictions": "count",
    "queries.plan_s": "s", "queries.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_util": "ratio", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "python.worker_boot_s": "s", "python.worker_init_s": "s",
    "python.udf_run_s": "s", "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "trace.overhead_s": "s", "trace.wall_traced_s": "s", "trace.wall_untraced_s": "s",
}
for _op in sorted({o for ops in OPS.values() for o in ops}):
    LAYER_METRICS[f"queries.{_op}_s"] = "s"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -------------------------------------------------------------------- inputs
def _manifest_path(d: str) -> str:
    return os.path.join(d, "_MANIFEST.json")


def _cached(d: str) -> dict | None:
    try:
        with open(_manifest_path(d)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _finish(d: str, extra: dict) -> dict:
    rows = files = size = 0
    for r, _, fs in os.walk(d):
        for f in fs:
            if f.endswith(".parquet"):
                import pyarrow.parquet as pq

                p = os.path.join(r, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                files += 1
                size += os.path.getsize(p)
    man = {"rows": rows, "files": files, "bytes": size,
           "fingerprint": gen.fingerprint(d), **extra}
    with open(_manifest_path(d), "w") as fh:
        json.dump(man, fh, sort_keys=True)
    return man


def _evict_inputs(keep: str, max_dirs: int = 3) -> None:
    base = os.path.dirname(keep)
    dirs = sorted((os.path.getmtime(os.path.join(base, d)), os.path.join(base, d))
                  for d in os.listdir(base) if os.path.join(base, d) != keep)
    for _, d in dirs[: max(0, len(dirs) - (max_dirs - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def content_key(workload: str) -> str:
    """Fingerprint of the input CONTENT. The seed only reorders rows and
    deals them into parts, and every output check is order-insensitive,
    so expected hashes are shared across seeds."""
    import pyarrow

    params = {"migrate": (MIGRATE_BASE_SF, MIGRATE_FACTOR),
              "llm_corpus": (LLM_DOCS, LLM_VOCAB, LLM_NEARDUP_SHARE, LLM_EMBEDDINGS)}
    raw = json.dumps([GEN_VERSION, workload, FIXTURE_SEED, params[workload],
                      pyarrow.__version__])
    return hashlib.sha256(raw.encode()).hexdigest()


def prepare_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the workload's input directory."""
    inputs = os.path.join(WORK, "inputs")
    d = os.path.join(inputs, f"{workload}-{seed}-v{GEN_VERSION}")
    man = _cached(d)
    if man is not None:
        os.utime(d)
        return d, man
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    extra: dict = {}
    if workload == "migrate":
        base = gen.fixture_tables(MIGRATE_BASE_SF, FIXTURE_SEED)
        for name, parts in gen.migrate_keyspace(base, seed, MIGRATE_FACTOR,
                                                MIGRATE_PARTS).items():
            gen.write_parts(parts, os.path.join(d, f"{name}.parquet"))
    else:
        docs = gen.llm_documents(FIXTURE_SEED, LLM_DOCS, LLM_VOCAB, LLM_NEARDUP_SHARE)
        gen.write_parts(gen.deal(docs, np.random.default_rng(seed), LLM_PARTS),
                        os.path.join(d, "documents.parquet"))
        emb = gen.embeddings(np.random.default_rng(FIXTURE_SEED), LLM_EMBEDDINGS)
        gen.write_table(emb, os.path.join(d, "embeddings.parquet"))
        extra["distinct_3_shingles"] = gen.distinct_shingles(docs["text"].to_pylist())
    extra["gen_s"] = time.perf_counter() - t0
    extra["content_key"] = content_key(workload)
    man = _finish(d, extra)
    _evict_inputs(d)
    return d, man


# ---------------------------------------------------------------------- host
def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (parent pid, state, RSS in KiB, CPU clock ticks) for every
    process in /proc. The ticks are user plus system time, including
    that of the children the process has reaped."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
            ticks = sum(int(f) for f in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
        table[int(entry)] = (int(fields[1]), fields[0], pages * page_kb, ticks)
    return table


def descendants(root_pid: int, table=None, zombies: bool = False) -> list[int]:
    """Every descendant of ``root_pid``: the JVM and the Python workers
    it forks. Zombies only when asked for: their CPU time is not yet
    their parent's."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, state, _, _) in table.items():
        if zombies or state != "Z":
            children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


class CpuClock:
    """CPU seconds used so far by the program, and the part of them its
    JVMs' JIT compiler threads used. The program is every process this
    one started (the Spark JVM and the Python workers it forks, with the
    children they reaped) plus this process's main thread, which runs
    the program's Python side. Benchmark threads (the RSS sampler, the
    output checks) are left out. Time a shared host steals from the
    machine is not CPU time, so the figures grow far less than wall
    time when the host is loaded."""

    def __init__(self):
        self.tck = os.sysconf("SC_CLK_TCK")
        # (pid, tid) -> ticks at the last read of every compiler thread
        # seen: the JVM stops idle compiler threads, and a stopped
        # thread's ticks leave /proc/<pid>/task with it
        self.jit_ticks: dict[tuple[int, int], int] = {}

    def read(self) -> tuple[float, float]:
        table = _proc_table()
        pids = descendants(os.getpid(), table, zombies=True)
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                if " CompilerThre" in stat[:stat.rindex(")")]:
                    ticks = sum(int(f) for f in stat.rsplit(")", 1)[1].split()[11:13])
                    self.jit_ticks[(pid, int(tid))] = ticks
        total = sum(table[pid][3] for pid in pids) / self.tck + time.thread_time()
        return total, sum(self.jit_ticks.values()) / self.tck


def steal_s() -> float:
    """Seconds a shared host has stolen from the machine's CPUs, summed."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])
    return steal / os.sysconf("SC_CLK_TCK")


def _proc_tree_rss_kb(root_pid: int) -> int:
    """Summed RSS of every descendant of ``root_pid``."""
    table = _proc_table()
    return sum(table[pid][2] for pid in descendants(root_pid, table))


class RssSampler:
    """Peak summed RSS of this process's descendants, sampled from /proc
    while ``active`` is set; ``take_peak`` returns the peak since the
    previous call."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak_kb = period, 0
        self._lock = threading.Lock()
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.period):
            if self.active.is_set():
                kb = _proc_tree_rss_kb(pid)
                with self._lock:
                    self.peak_kb = max(self.peak_kb, kb)

    def take_peak(self) -> float:
        """Peak in MB since the previous call."""
        with self._lock:
            peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as fh:
                    commit = fh.read().strip()
        else:
            commit = ref
    import duckdb
    import pyspark

    return {"nproc": nproc(), "mem_total_mb": mem_kb // 1024,
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "commit": commit}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Host settings the program reads, pinned before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers and Python DataSource readers import the package
    # from the checkout root, not only the Spark driver process
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


# ----------------------------------------------------------------------- run
def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3 if values else [0.0] * 3
    q = statistics.quantiles(values, n=4)
    return [q[0], statistics.median(values), q[2]]


@dataclass
class OpTime:
    """One operation call: wall seconds (query call, then sink), the
    program's CPU seconds, the part of them the JIT compiler spent, and
    the seconds the host stole meanwhile."""

    plan_s: float
    exec_s: float
    cpu_s: float
    jit_s: float
    steal_s: float

    @property
    def wall_s(self) -> float:
        return self.plan_s + self.exec_s

    @property
    def work_cpu_s(self) -> float:
        """CPU seconds without the JIT compiler's."""
        return self.cpu_s - self.jit_s


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.cpu = CpuClock()

    def setup(self, sf_dir: str) -> dict:
        """The session build (JVM launch included) plus the program's
        one-time preparation, ``prestage_cosine_corpus`` for
        llm_corpus, in wall and in CPU seconds."""
        from cassandra_migrate_keyspace_from_cluster_spark import registry
        from cassandra_migrate_keyspace_from_cluster_spark.session import build_session

        # no console progress bar: its thread would spend CPU the
        # measurements count
        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            extra.update({"spark.sql.ui.retainedExecutions": "100000",
                          "spark.ui.retainedJobs": "100000",
                          "spark.ui.retainedStages": "100000"})
        c0, t0 = self.cpu.read()[0], time.perf_counter()
        self.spark = build_session(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload == "llm_corpus":
            from cassandra_migrate_keyspace_from_cluster_spark.operators.similarity import (
                prestage_cosine_corpus,
            )
            from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

            prestage_cosine_corpus(load_table(self.spark, sf_dir, "embeddings"),
                                   corpus_key=sf_dir)
        t2, c2 = time.perf_counter(), self.cpu.read()[0]
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        return {"build_s": t1 - t0, "prep_s": t2 - t1, "wall_s": t2 - t0, "cpu_s": c2 - c0}

    def run_op(self, op: str, sf_dir: str, tracer=None):
        """One operation: hygiene, query call, noop sink, then (outside
        the timing) the trace reads. Returns (OpTime, OpTrace|None,
        seconds spent after the sink), or None when the operation
        raised."""
        from cassandra_migrate_keyspace_from_cluster_spark import util

        util.drain_persisted()
        self.spark.catalog.clearCache()
        self.attempted += 1
        rec = tracer.begin_op(op) if tracer else None
        try:
            (c0, j0), s0 = self.cpu.read(), steal_s()
            t0 = time.perf_counter()
            df = self.queries[op](self.spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            c1, j1 = self.cpu.read()
            timing = OpTime(t1 - t0, t2 - t1, c1 - c0, j1 - j0, steal_s() - s0)
        except Exception as ex:  # noqa: BLE001 - a failing op is counted, the run goes on
            self._fail(op, f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}")
            traceback.print_exc(file=sys.stderr)
            if tracer:
                tracer.end_op()
            return None
        if tracer:
            rec.plan_s, rec.exec_s = timing.plan_s, timing.exec_s
            tracer.end_op(df)
        return timing, rec, time.perf_counter() - t2

    def check_op(self, op: str, sf_dir: str, checker) -> float:
        """One operation, outside every metric, with its result collected
        and compared with the oracle's. Returns the seconds it took."""
        import check

        from cassandra_migrate_keyspace_from_cluster_spark import util

        util.drain_persisted()
        self.spark.catalog.clearCache()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            actual = checker.actual(self.queries[op](self.spark, sf_dir).toArrow())
            expected = checker.expected(op, self.oracles[op]) if op in self.oracles else None
            reason = check.verdict(actual, expected)
        except Exception as ex:  # noqa: BLE001 - a failing op or check is counted
            traceback.print_exc(file=sys.stderr)
            reason = f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
        if reason:
            self._fail(op, reason)
        return time.perf_counter() - t0

    def _fail(self, op: str, reason: str) -> None:
        self.failed += 1
        self.failures.setdefault(op, []).append(reason)
        log(f"FAILED {op}: {reason}")

    def stop(self) -> None:
        """Stop Spark and the JVM, then wait for every process they
        started (Python workers outlive the JVM by a moment)."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        started = descendants(os.getpid())
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort: do not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        live = started
        while time.monotonic() < deadline:
            table = _proc_table()
            live = [pid for pid in started if pid in table and table[pid][1] != "Z"]
            if not live:
                return
            time.sleep(0.1)
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def layer_metrics(traced: list[list], pass_ops_s: list[float], cores: int) -> dict:
    """Per-pass sums over the traced passes, reported as medians."""
    per_pass = []
    for ops, wall in zip(traced, pass_ops_s):
        tot: dict[str, float] = {}
        for rec in ops:
            for k, v in rec.counters.items():
                tot[k] = tot.get(k, 0.0) + v
            tot["queries.plan_s"] = tot.get("queries.plan_s", 0.0) + rec.plan_s
            tot["queries.exec_s"] = tot.get("queries.exec_s", 0.0) + rec.exec_s
            key = f"queries.{rec.op}_s"
            tot[key] = tot.get(key, 0.0) + rec.plan_s + rec.exec_s
        src = tot.get("migrate.source_bytes", 0.0)
        tot["migrate.write_amp"] = tot.get("migrate.output_bytes", 0.0) / src if src else 0.0
        tot["spark.core_util"] = tot.get("spark.task_run_s", 0.0) / (wall * cores)
        per_pass.append(tot)
    keys = {k for p in per_pass for k in p}
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}


def per_op_medians(times: list[dict[str, OpTime]], attr: str) -> dict[str, float]:
    """Each operation's median ``attr`` over ``times`` (one dict per
    pass), for the operations that completed at least once."""
    ops = sorted({op for t in times for op in t})
    return {op: statistics.median(getattr(t[op], attr) for t in times if op in t)
            for op in ops}


def op_medians(times: list[dict[str, OpTime]], attr: str) -> float:
    """Sum over operations of each operation's median ``attr``: a slow
    call of one operation in one pass does not move it."""
    return sum(per_op_medians(times, attr).values())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        log(f"program package {PKG}/ not found next to perfbench/; nothing to measure")
        return 2

    os.makedirs(WORK, exist_ok=True)
    pin_environment()
    sys.path.insert(0, ROOT)
    load_before = os.getloadavg()
    t_gen = time.perf_counter()
    sf_dir, inputs = prepare_inputs(args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    log(f"inputs {sf_dir}: {inputs['rows']} rows, {inputs['files']} files "
        f"({gen_s:.1f}s)")

    import check

    bench = Bench(args)
    sampler = RssSampler()
    try:
        setup = bench.setup(sf_dir)
        log(f"setup {setup}")
        checker = check.OracleChecker(sf_dir, inputs["content_key"],
                                      os.path.join(WORK, "oracle_cache.json"), gen.TABLES)
        try:
            passes, check_s, traced_recs, tracer = run_passes(bench, args, sf_dir, checker,
                                                              sampler)
        finally:
            checker.close()
    finally:
        sampler.close()
        bench.stop()
    load_after = os.getloadavg()

    first, timed = passes[0], [p for p in passes[1:] if p["kind"] == "timed"]
    first_t, timed_t = first["ops"], [p["ops"] for p in timed]
    wall_s = op_medians(timed_t, "wall_s")
    pass_cpu_s = op_medians(timed_t, "work_cpu_s")
    rows = inputs["rows"]
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {**host_info(), "load_before": load_before, "load_after": load_after},
        "inputs": {"dir": os.path.relpath(sf_dir, ROOT), "gen_s": gen_s, **inputs},
        "setup": setup, "check_s": check_s,
        "passes": [{**{k: v for k, v in p.items() if k != "ops"},
                    "ops": {op: vars(t) for op, t in p["ops"].items()}} for p in passes],
        "timed_passes": len(timed),
        # wall-clock figures, reported beside the CPU-second metrics
        "first_pass_s": sum(t.wall_s for t in first_t.values()),
        "wall_s": wall_s,
        "wall_s_pass_quartiles": quartiles([p["ops_s"] for p in timed]),
        "rows_per_s": rows / wall_s,
        "steal_s_per_timed_pass": quartiles([p["steal_s"] for p in timed]),
        "op_median_wall_s": per_op_medians(timed_t, "wall_s"),
        "op_median_cpu_s": per_op_medians(timed_t, "cpu_s"),
        "op_median_jit_s": per_op_medians(timed_t, "jit_s"),
        "failed_ops": bench.failed, "attempted_ops": bench.attempted,
        "failures": bench.failures,
    }
    if args.trace:
        traced = [p for p in passes if p["kind"] == "traced"]
        lm = layer_metrics(traced_recs, [p["ops_s"] for p in traced], nproc())
        lm["session.build_s"] = setup["build_s"]
        lm["trace.wall_traced_s"] = op_medians([p["ops"] for p in traced], "wall_s")
        lm["trace.wall_untraced_s"] = wall_s
        lm["trace.overhead_s"] = lm["trace.wall_traced_s"] - wall_s
        # pass wall not inside an op span, a trace read or a check:
        # the rep-hygiene calls between operations
        report["unattributed_s"] = statistics.median(
            p["wall"] - p["ops_s"] - p["aside_s"] for p in traced)
        report["trace_reads_s"] = statistics.median(p["aside_s"] for p in traced)
        # the same overhead in CPU seconds, which stolen time does not move
        report["trace_cpu_overhead_s"] = (op_medians([p["ops"] for p in traced],
                                                     "work_cpu_s") - pass_cpu_s)
        report["extra_layer_metrics"] = {k: v for k, v in lm.items()
                                         if k not in LAYER_METRICS}
        result_metrics = {k: {"value": lm.get(k, 0.0), "unit": u}
                          for k, u in LAYER_METRICS.items()}
        spans_path = os.path.join(WORK, "traces",
                                  f"{args.workload}-{args.seed}-spans.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump(tracer.spans_as_dicts(), fh)
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        values = {
            "setup_s": setup["cpu_s"],
            "first_pass_cpu_s": sum(t.cpu_s for t in first_t.values()),
            "pass_cpu_s": pass_cpu_s,
            "rows_per_cpu_s": rows / pass_cpu_s,
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in timed),
        }
        result_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    report["metrics"] = result_metrics
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": result_metrics}))
    return 0


def run_passes(bench: Bench, args, sf_dir: str, checker, sampler):
    """The first pass; the check pass, which runs every operation again
    with its output check; then timed passes for ``args.seconds``, and
    at least MIN_TIMED_PASSES of them. A trace run alternates untraced
    and traced timed passes, so each traced pass sits between two
    untraced ones that bracket its warm-up state."""
    tracer = None
    if args.trace:
        import layers as tracing

        tracer = tracing.Tracer(bench.spark)
    ops = list(OPS[args.workload])
    passes, traced_recs = [], []

    def one_pass(kind: str) -> None:
        if kind == "traced":
            tracer.install()
        recs, times, aside_s = [], {}, 0.0
        t0 = time.perf_counter()
        for op in ops:
            out = bench.run_op(op, sf_dir, tracer if kind == "traced" else None)
            if out is None:
                continue
            timing, rec, aside = out
            times[op] = timing
            aside_s += aside
            if rec is not None:
                recs.append(rec)
        wall = time.perf_counter() - t0
        if kind == "traced":
            tracer.uninstall()
            traced_recs.append(recs)
        p = {"kind": kind, "wall": wall, "ops": times,
             "ops_s": sum(t.wall_s for t in times.values()),
             "cpu_s": sum(t.cpu_s for t in times.values()),
             "jit_s": sum(t.jit_s for t in times.values()),
             "steal_s": sum(t.steal_s for t in times.values()),
             "plan_s": sum(t.plan_s for t in times.values()),
             "aside_s": aside_s, "peak_rss_mb": sampler.take_peak()}
        passes.append(p)
        log(f"{kind} pass: {p['ops_s']:.3f}s in ops, {p['cpu_s']:.2f} CPU s "
            f"({p['jit_s']:.2f} JIT), "
            f"{p['steal_s']:.2f}s stolen, {wall:.3f}s wall, {aside_s:.3f}s trace reads")

    sampler.active.set()
    one_pass("first")
    check_s = {op: bench.check_op(op, sf_dir, checker) for op in ops}
    sampler.take_peak()
    log(f"check pass: {sum(check_s.values()):.3f}s")
    t_timed, n_timed, j = time.perf_counter(), 0, 0
    while not (n_timed >= MIN_TIMED_PASSES and time.perf_counter() - t_timed >= args.seconds
               and passes[-1]["kind"] == "timed"):
        j += 1
        kind = "traced" if args.trace and j % 2 == 0 else "timed"
        n_timed += kind == "timed"
        one_pass(kind)
    sampler.active.clear()
    return passes, check_s, traced_recs, tracer


if __name__ == "__main__":
    sys.exit(main())
