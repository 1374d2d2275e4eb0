"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture()
def work(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    return tmp_path


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for r, _, fs in os.walk(d):
        for f in fs:
            if f.endswith(".parquet"):
                with open(os.path.join(r, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(r, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["migrate", "llm_corpus"])
def test_same_seed_same_bytes_other_seed_other_bytes(work, workload):
    d1, _ = run.prepare_inputs(workload, 7)
    a = _files(d1)
    import shutil

    shutil.rmtree(d1)
    d1b, _ = run.prepare_inputs(workload, 7)
    d2, _ = run.prepare_inputs(workload, 8)
    assert a and a == _files(d1b)
    assert a != _files(d2)


def test_migrate_inputs_are_multi_part(work):
    d, man = run.prepare_inputs("migrate", 1)
    parts = os.listdir(os.path.join(d, "lineitem.parquet"))
    assert len(parts) == run.MIGRATE_PARTS
    assert man["files"] > len(gen.TABLES)


def test_llm_corpus_over_minhash_budget_and_fixture_under(work):
    budget = _program_dedup().MINHASH_VOCAB_BROADCAST_BUDGET
    d, man = run.prepare_inputs("llm_corpus", 1)
    assert man["distinct_3_shingles"] > 1.1 * budget
    assert len(os.listdir(os.path.join(d, "documents.parquet"))) == run.LLM_PARTS
    words = {w for t in pq_texts(os.path.join(d, "documents.parquet")) for w in t.split()}
    assert len(words) >= 1000
    fixture = gen.fixture_tables(0.1, run.FIXTURE_SEED)["documents"]
    assert gen.distinct_shingles(fixture["text"].to_pylist()) < budget


def pq_texts(path: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["text"])["text"].to_pylist()


def _program_dedup():
    sys.path.insert(0, run.ROOT)
    from cassandra_migrate_keyspace_from_cluster_spark.operators import dedup

    return dedup


def test_metric_names_and_units():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == run.LAYER_METRICS
    for name, unit in [*e2e.items(), *per_layer.items()]:
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), (name, unit)
    assert [w["name"] for w in spec["workloads"]] == list(run.OPS)


def test_checker_matches_reordered_rows_and_flags_tampered_hash(tmp_path):
    tbl = pa.table({"k": pa.array([3, 1, 2], pa.int32()), "v": [0.5, -0.0, 2.25],
                    "s": ["c", "a", None]})
    gen.write_table(tbl, str(tmp_path / "region.parquet"))
    ck = check.OracleChecker(str(tmp_path), "fp", str(tmp_path / "cache.json"), ["region"])
    expected = ck.expected("op", "SELECT * FROM region")
    reordered = pa.table({"v": [2.25, 0.5, 0.0], "s": [None, "c", "a"],
                          "k": pa.array([2, 3, 1], pa.int64())})
    assert check.verdict(ck.actual(reordered), expected) is None
    n, s, x, names = expected.split(":")
    tampered = ":".join([n, str(int(s) + 1), x, names])
    assert check.verdict(ck.actual(reordered), tampered) is not None
    changed = reordered.set_column(0, "v", pa.array([2.25, 0.5, 1.0]))
    assert check.verdict(ck.actual(changed), expected) is not None
    assert check.verdict(ck.actual(tbl.slice(0, 0)), None) is not None
    ck.close()
    # the cache serves the stored hash for the same content key
    ck2 = check.OracleChecker(str(tmp_path), "fp", str(tmp_path / "cache.json"), ["region"])
    assert ck2.expected("op", "SELECT * FROM region") == expected
    ck2.close()


def test_parse_sql_metric():
    assert layers.parse_sql_metric("911 ms") == pytest.approx(0.911)
    assert layers.parse_sql_metric("1172.1 KiB") == pytest.approx(1172.1 * 1024)
    assert layers.parse_sql_metric("60,000") == 60000
    multi = "total (min, med, max (stageId: taskId))\n2.5 s (0.1 s, 0.2 s, 1.0 s (stage 3.0: task 7))"
    assert layers.parse_sql_metric(multi) == pytest.approx(2.5)
    assert layers.parse_sql_metric(None) == 0.0


def _busy(seconds: float) -> None:
    t0 = time.process_time()
    while time.process_time() - t0 < seconds:
        pass


def test_program_cpu_counts_child_processes_not_helper_threads():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    clock = run.CpuClock()
    main0, before = time.thread_time(), clock.read()[0]
    child = subprocess.Popen([sys.executable, "-c", busy + "print('done', flush=True)\n"
                              "time.sleep(60)"], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        counted = clock.read()[0] - before - (time.thread_time() - main0)
        assert 0.4 <= counted < 5
    finally:
        child.kill()
        child.wait(timeout=30)
    helper = threading.Thread(target=_busy, args=(0.5,))
    main0, before = time.thread_time(), clock.read()[0]
    helper.start()
    helper.join(timeout=30)
    assert not helper.is_alive()
    assert clock.read()[0] - before - (time.thread_time() - main0) < 0.2


def test_missing_program_exits_nonzero(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.main(["--workload", "migrate", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""
