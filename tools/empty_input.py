"""Empty-input robustness probe: every registered query must DEGRADE
GRACEFULLY — no exception, baseline-identical result schema — when
every input table has zero rows.

Why this exists (SURVEY.md §5.3 posture): at the 100-TB design point
empty inputs are routine — an empty token range, a filter that prunes a
whole keyspace, a day partition with no events, an incremental batch
with nothing new. Every gate runs on populated fixtures, so
driver-side glue that materializes *small* state (KMeans/PQ training
samples, IVF probe lists, connected-components fixpoint checksums,
range-plan rows) can hide a hard crash on the empty case — the exact
shape a scheduled production pipeline hits on a quiet day, where a
crash means a failed job rather than an empty report.

Contract checked per query, against a schema-preserving 0-row copy of
every fixture table (pyarrow schema-only write — logical types
byte-exact):

  1. the query raises nothing;
  2. the result's Spark schema equals the populated-baseline schema
     (column names + types — a pipeline's downstream contract);
  3. the result collects (rows themselves are whatever the semantics
     say: 0 for per-row/grouped outputs, 1 for global aggregates).

Usage: python tools/empty_input.py [sf_dir [query ...]]
       (default: /root/testdata/sf0.001 for the baseline schemas)
       Query names after sf_dir restrict the check to those queries.
Prints one line per failure and a final summary; exit 1 on any.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def write_empty_fixtures(sf_dir: str, out_dir: str) -> None:
    """Write a 0-row, schema-identical copy of every fixture table."""
    import pyarrow.parquet as pq

    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        tbl = pq.read_table(src).slice(0, 0)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cassandra_migrate_keyspace_from_cluster_spark.registry import specs
    from cassandra_migrate_keyspace_from_cluster_spark.session import build_session

    all_specs = specs()
    unknown = [q for q in names if q not in all_specs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    if names:
        all_specs = {q: all_specs[q] for q in names}

    empty_dir = tempfile.mkdtemp(prefix="empty_inv_")
    try:
        write_empty_fixtures(sf_dir, empty_dir)
        spark = build_session(app_name="empty_input")
        spark.sparkContext.setLogLevel("ERROR")

        t_all = time.time()
        print(f"{len(all_specs)} queries; empty fixtures at {empty_dir}, "
              f"baseline schemas from {sf_dir}", flush=True)
        fails: list[str] = []
        n_ok = 0
        for name, spec in all_specs.items():
            try:
                base_schema = spec.fn(spark, sf_dir).schema
            except Exception as ex:  # noqa: BLE001
                fails.append(name)
                print(f"BASELINE-ERROR {name}: {type(ex).__name__}: "
                      f"{str(ex)[:160]}", flush=True)
                continue
            try:
                got = spec.fn(spark, empty_dir)
                if got.schema != base_schema:
                    fails.append(name)
                    print(f"FAIL schema {name}: empty={got.schema.simpleString()[:120]} "
                          f"base={base_schema.simpleString()[:120]}", flush=True)
                    continue
                got.collect()
                n_ok += 1
            except Exception as ex:  # noqa: BLE001
                fails.append(name)
                print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:200]}",
                      flush=True)
        print(
            f"EMPTY-INPUT RESULT: {n_ok}/{len(all_specs)} graceful "
            f"fails={fails or 'none'} ({time.time() - t_all:.0f}s)"
        )
        sys.exit(1 if fails else 0)
    finally:
        shutil.rmtree(empty_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
