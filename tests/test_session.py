"""The engine's session plumbing: the Python worker daemon
(``pyworker.py``), the workers' import path, and driver-side local
frames (``util.local_frame``)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from cassandra_migrate_keyspace_from_cluster_spark import pyworker
from cassandra_migrate_keyspace_from_cluster_spark.operators.migrate import _MANIFEST_SCHEMA
from cassandra_migrate_keyspace_from_cluster_spark.util import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_pyworker_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"graft_zip_probe_a": "A = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)

    assert importlib.import_module("graft_zip_probe_a").A == 1
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()  # first call reads and records the stat
    files = importer._files
    for _ in range(3):
        importlib.invalidate_caches()
        assert importer._files is files  # unchanged archive: not re-read

    # a rewritten archive (new size) is re-read: its new module imports
    _write_zip(archive, {"graft_zip_probe_a": "A = 1\n",
                         "graft_zip_probe_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert "graft_zip_probe_b.py" in importer._files
    assert importlib.import_module("graft_zip_probe_b").B == 2

    # a vanished archive falls through to the stock re-read (empty index)
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}


def test_pyworker_daemon_keeps_zip_index_across_tasks(spark):
    """Consecutive tasks in one reused worker see the same pyspark.zip
    directory index: the per-task ``importlib.invalidate_caches()`` no
    longer re-parses the archive (the stock daemon builds a new index
    object for every task)."""

    def _pyspark_zip_files_id(_):
        for path, imp in sys.path_importer_cache.items():
            if path.endswith("pyspark.zip") and hasattr(imp, "_files"):
                return os.getpid(), id(imp._files)
        return os.getpid(), None

    sc = spark.sparkContext
    seen: dict[int, list] = {}
    for _ in range(16):
        (pid, files_id), = sc.parallelize([0], 1).map(_pyspark_zip_files_id).collect()
        assert files_id is not None, "workers do not import pyspark from pyspark.zip"
        seen.setdefault(pid, []).append(files_id)
    reused = {pid: ids for pid, ids in seen.items() if len(ids) > 1}
    assert reused, f"no worker served two tasks: {seen}"
    for pid, ids in reused.items():
        assert len(set(ids)) == 1, (pid, ids)


def test_workers_import_package_from_any_cwd(tmp_path):
    """A session built from a directory outside the checkout, with no
    PYTHONPATH, still runs Python tasks: the workers find the daemon
    module through the path ``build_session`` hands them."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from cassandra_migrate_keyspace_from_cluster_spark.session import build_session
        spark = build_session(app_name="cwd-probe", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        out = spark.sparkContext.parallelize([1, 2, 3], 2).map(lambda x: x * 10).collect()
        print("RESULT", sorted(out))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT [10, 20, 30]" in proc.stdout


def test_local_frame_matches_create_dataframe(spark):
    """Same names, types, nullability and rows as ``createDataFrame``,
    planned as a local relation (no job, no Python worker)."""
    cases = [
        ([("orders", "o_orderkey", 1, "BIGINT")], _MANIFEST_SCHEMA),
        ([("region", 5, 5, True), ("nation", 25, 24, False)],
         "table_name string, n_rows_src bigint, n_rows_dst bigint, counts_match boolean"),
        ([("a", "added", None, "int"), ("b", "removed", "string", None)],
         "column_name string, change string, type_v0 string, type_v1 string"),
        ([(d,) for d in [0, 5, 240]], "delay_min int"),
        ([], "query_id bigint, neighbor_id bigint, cos_sim double"),
        ([], _MANIFEST_SCHEMA),
    ]
    for rows, schema in cases:
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema, (got.schema, want.schema)
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
