"""Keyspace-migration operators (SURVEY.md §2 Part A).

The reference's surface is a Cassandra keyspace copier (reconstructed in
SURVEY.md §1.1/§3.1 — reference tree empty, so the shape is `[R?]`):
discover schema, replicate DDL, bulk-copy each table split by token
range, then validate counts/content. Here each op is expressed
source-agnostically over the parquet-keyspace simulation (a `sf*/`
directory = keyspace, each parquet file = table); on a real cluster the
same dataflow runs through the Spark Cassandra Connector (see
``sources/cassandra.py`` for the connector-config design notes covering
A1/A3/A6/A9/A10, which are not exercisable in this sandbox).

Scale notes (100-TB design point):
  - Bulk copy is pure ``read → write``: no shuffle at all. Parallelism
    comes from source splits (parquet file splits / connector token
    ranges), so it scales linearly with executors.
  - Range splitting (A5) is what the connector does with token ranges;
    the explicit DataFrame form here uses an ntile window for the
    *testable* math. At scale you'd use ``df.repartitionByRange(n, key)``
    which samples range boundaries instead of globally sorting.
  - Validation (A7/A8) is one pass per table, aggregation-only — the
    checksum is an order-insensitive reduction, so it needs no sort and
    shuffles only the tiny partial-agg state.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import TABLES, load_table, parquet_row_count, table_path
from ..util import local_frame

# Canonical cross-engine type vocabulary: Spark simpleString → canonical.
# The DuckDB oracle maps information_schema data_type strings into the
# same vocabulary (INTEGER→int, BIGINT→bigint, VARCHAR→text,
# TIMESTAMP*→timestamp, FLOAT[]→array<float>).
_SPARK_TO_CANONICAL = {
    "int": "int",
    "bigint": "bigint",
    "float": "float",
    "double": "double",
    "string": "text",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "blob",
    "array<float>": "array<float>",
    "array<double>": "array<double>",
    "array<string>": "array<text>",
}

_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("ordinal", T.LongType(), False),
        T.StructField("data_type", T.StringType(), False),
    ]
)


def schema_manifest(spark: SparkSession, sf_dir: str, tables=TABLES) -> DataFrame:
    """Schema discovery (A2): enumerate (table, column, ordinal, type).

    The Cassandra analogue reads ``system_schema.{tables,columns}``; here
    the parquet footers are the schema registry. This is a driver-side
    catalog operation (footer reads only, no data scan) — exactly how a
    migrator plans its copy before moving a single row.
    """
    rows = []
    for name in tables:
        for i, field in enumerate(load_table(spark, sf_dir, name).schema.fields):
            canonical = _SPARK_TO_CANONICAL.get(
                field.dataType.simpleString(), field.dataType.simpleString()
            )
            rows.append((name, field.name, i + 1, canonical))
    return local_frame(spark, rows, _MANIFEST_SCHEMA)


def copy_table(
    spark: SparkSession, src_dir: str, dst_dir: str, name: str
) -> DataFrame:
    """Bulk table copy (A4): full scan → schema/value-preserving write.

    Shuffle-free: source splits map 1:1 to output files. On Cassandra the
    same dataflow is ``connector read → connector write`` with writetime/
    TTL read options carried as extra columns (A6 — see
    ``sources/cassandra.py``). Returns the re-read target so callers can
    validate the round trip (A7/A8 run on the result).
    """
    dst = os.path.join(dst_dir, f"{name}.parquet")
    load_table(spark, src_dir, name).write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst)


def copy_table_via(
    spark: SparkSession, src_dir: str, dst_dir: str, name: str, fmt: str
) -> DataFrame:
    """Format-generic bulk copy (A4 over csv/json sinks): write the table
    through a text format and read it back with the SOURCE schema
    enforced — exactly a migrator's flow (replicate DDL first, then load
    data against it; text formats carry no types of their own).

    Same shuffle-free shape as ``copy_table``; the schema-on-read is what
    makes the round trip value-preserving (doubles serialize at full
    precision in both csv and json writers)."""
    src = load_table(spark, src_dir, name)
    dst = os.path.join(dst_dir, f"{name}.{fmt}")
    writer = src.write.mode("overwrite").format(fmt)
    reader = spark.read.format(fmt).schema(src.schema)
    if fmt == "csv":
        writer = writer.option("header", True)
        reader = reader.option("header", True)
    writer.save(dst)
    return reader.load(dst)


def copy_table_partitioned(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    partition_expr: F.Column,
    partition_name: str,
) -> DataFrame:
    """A4 at scale: copy with a partitioned target layout.

    Writes ``partitionBy(partition_name)`` so the target is a directory
    per partition value — the layout that turns downstream date filters
    into partition pruning (no file even opened outside the range) and
    bounds per-task output size. The partition column is derived (e.g.
    ``year(o_orderdate)``) and carried alongside the original columns;
    read-back returns the original column set for value-preservation
    checks."""
    src = load_table(spark, src_dir, name)
    dst = os.path.join(dst_dir, f"{name}_part.parquet")
    with_part = src.withColumn(partition_name, partition_expr)
    with_part.write.mode("overwrite").partitionBy(partition_name).parquet(dst)
    # Explicit schema (source schema + derived partition column): the
    # source schema is the read-back contract anyway, and it keeps an
    # EMPTY copy readable — a 0-row partitionBy write emits no files at
    # all, so schema inference would fail on the quiet-day case.
    return (
        spark.read.schema(with_part.schema).parquet(dst).select(*src.columns)
    )


def range_split_counts(df: DataFrame, key: str, n_splits: int = 16) -> DataFrame:
    """Token-range split math (A5): rows per contiguous key range.

    The testable form of the connector's token-range planning: rows are
    ordered by key into n contiguous, near-equal ranges; each range
    reports its row count and key bounds — the exact manifest a
    resumable migrator persists (A9). The bucket assignment is SQL
    ``ntile`` semantics, computed WITHOUT a global single-reducer
    window: the two-phase distributed rank (``repartitionByRange`` →
    partition-local numbering → broadcast prefix offsets,
    ``operators/rank.py``) yields the exact global row number, and
    ntile is closed-form over (row_number, N). A5 is the op whose whole
    point is scale-out planning, so its own plan must scale too.
    Deterministic whenever ``key`` is totally ordered (duplicate keys
    make any engine's ntile bucket-boundary assignment arbitrary).
    """
    from .rank import ntile_from_rn, with_global_row_number

    # local_checkpoint: single-JVM sandbox, where executor loss is job
    # loss anyway — a real cluster deployment passes "persist"
    ranked = with_global_row_number(
        df.select(F.col(key)),
        [F.col(key).asc()],
        "__rn",
        total_col="__n",
        materialize="local_checkpoint",
    )
    return (
        ranked.select(
            F.col(key),
            ntile_from_rn(F.col("__rn"), F.col("__n"), n_splits).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(key).alias("min_key"),
            F.max(key).alias("max_key"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"), "n_rows", "min_key", "max_key")
    )


def copy_table_with_writetime(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    ts_col: str,
    value_cols: tuple,
) -> DataFrame:
    """Writetime-preserving copy (A6, simulated): per-cell WRITETIME
    metadata rides along as ``<col>_writetime`` columns and survives the
    copy byte-for-byte.

    On Cassandra the connector materializes real per-cell timestamps via
    its ``writetime.<col>`` read option and replays them on write (see
    sources/cassandra.py::reader_options); the parquet keyspace has no
    cell metadata, so the simulation derives a deterministic writetime
    (epoch micros of ``ts_col``) — the POINT under test is the dataflow:
    metadata columns attach at read, flow through the shuffle-free copy
    untouched, and verify on the target."""
    src = load_table(spark, src_dir, name)
    # writetime = epoch micros OF THE NAIVE WALL-CLOCK (DuckDB's
    # epoch_us of the same naive timestamps). unix_micros alone reads
    # the raw internal epoch, which follows spark.sql.session.timeZone;
    # from_utc_timestamp(col, session_tz) shifts it so the result is
    # the naive micros under ANY session zone (identity under the
    # engine's pinned UTC — same value, same plan shape).
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    wt = F.unix_micros(
        F.from_utc_timestamp(F.col(ts_col).cast("timestamp"), tz)
    )
    with_meta = src.select(
        "*", *[wt.alias(f"{c}_writetime") for c in value_cols]
    )
    dst = os.path.join(dst_dir, f"{name}.parquet")
    with_meta.write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst)


def plan_key_ranges(df: DataFrame, key: str, n_splits: int) -> list[tuple]:
    """Compute ``n_splits`` contiguous (lo, hi) key ranges covering the
    table (inclusive bounds) — the migration plan A5 produces and A9
    persists. One small aggregation job; bounds come from the same
    ntile math as ``range_split_counts``."""
    rows = (
        range_split_counts(df, key, n_splits)
        .orderBy("bucket")
        .select("min_key", "max_key")
        .collect()
    )
    return [(r.min_key, r.max_key) for r in rows]


def _read_ranged_target(
    spark: SparkSession, table_dir: str, src: DataFrame
) -> DataFrame:
    """Read back a ``range=i``-partitioned copy target with the source
    schema enforced (plus the ``range`` partition column, projected away).

    The explicit schema is what keeps an EMPTY copy readable: a 0-row
    table plans 0 ranges, so the target directory holds no parquet files
    and schema inference would fail — while a migrator's contract is the
    source schema regardless of row count (the quiet-day incremental
    run)."""
    schema = T.StructType(
        list(src.schema.fields) + [T.StructField("range", T.IntegerType())]
    )
    return spark.read.schema(schema).parquet(table_dir).select(*src.columns)


class SimulatedFailure(RuntimeError):
    """Raised by copy_table_resumable(fail_after=k) to test resume."""


def copy_table_resumable(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    key: str,
    n_splits: int = 16,
    fail_after: int | None = None,
) -> DataFrame:
    """Resumable bulk copy (A9): the table is copied one key range at a
    time; each completed range writes its data then a done-marker, and a
    restarted run skips every marked range.

    This is the reference's core control loop (per-token-range copy with
    persisted progress — SURVEY.md §3.1) expressed over Spark jobs: each
    range copy is a distributed filtered write whose predicate pushes
    down to the scan, so a resume re-reads only unfinished ranges.
    Idempotence: re-running a range overwrites the same subdirectory, so
    at-least-once execution is safe — no coordination needed beyond the
    marker (written only after the range's data is durable).

    Range predicates are HALF-OPEN: range i copies
    ``key >= lo_i AND key < lo_{i+1}`` (the last range is inclusive of
    its hi). The planned (lo, hi) bucket bounds come from ntile min/max,
    so with duplicate key values spanning a bucket boundary the inclusive
    bounds of adjacent ranges would overlap and copy those rows twice;
    deriving each upper bound from the NEXT range's lo makes the ranges
    a partition of the key space for any key distribution — no
    unique-key precondition.

    ``fail_after=k`` aborts after k ranges to let tests exercise the
    resume path. Returns the re-read of the completed target.
    """
    src = load_table(spark, src_dir, name)
    table_dir = os.path.join(dst_dir, f"{name}.parquet")
    os.makedirs(table_dir, exist_ok=True)
    ranges = plan_key_ranges(src, key, n_splits)
    done = 0
    for i, (lo, hi) in enumerate(ranges):
        marker = os.path.join(dst_dir, f"_{name}_range_{i}.done")
        if os.path.exists(marker):
            continue
        if fail_after is not None and done >= fail_after:
            raise SimulatedFailure(f"injected failure before range {i}")
        if i + 1 < len(ranges):
            pred = (F.col(key) >= lo) & (F.col(key) < ranges[i + 1][0])
        else:
            pred = (F.col(key) >= lo) & (F.col(key) <= hi)
        (
            src.filter(pred)
            .write.mode("overwrite")
            .parquet(os.path.join(table_dir, f"range={i}"))
        )
        with open(marker, "w") as fh:
            fh.write(f"{lo}..{hi}\n")
        done += 1
    return _read_ranged_target(spark, table_dir, src)


class WallClock:
    """Real clock for production throttling; tests inject a fake."""

    def now(self) -> float:
        import time

        return time.monotonic()

    def sleep(self, seconds: float) -> None:
        import time

        time.sleep(seconds)


def copy_table_throttled(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    key: str,
    n_splits: int = 16,
    rows_per_second: float | None = None,
    clock=None,
) -> DataFrame:
    """Throttled bulk copy (A10): the per-range copy loop paced to a
    rows/second budget so the migration never overruns the source
    cluster's serving capacity — the reference's rate-limit knob made
    executable.

    Pacing is token-bucket-by-completed-work: before submitting range
    i, wait until ``start + rows_copied_so_far / rows_per_second`` —
    i.e. the NEXT range may only start once the budget has caught up
    with everything already copied. Range sizes come from the A5 plan
    (exact per-range counts), so the schedule is known up front and a
    resumable run (A9 markers) re-paces only the remaining ranges.

    The clock is injectable: tests drive a fake clock and assert the
    sleep schedule deterministically (no wall-clock flakiness); the
    default is the real monotonic clock. On a real cluster this
    driver-side pacing bounds SOURCE read pressure (ranges are read
    sequentially); executor-side write throttling maps to the
    connector's throughput option (see sources/cassandra.py) — the two
    compose.
    """
    clock = clock or WallClock()
    src = load_table(spark, src_dir, name)
    table_dir = os.path.join(dst_dir, f"{name}.parquet")
    os.makedirs(table_dir, exist_ok=True)
    plan = (
        range_split_counts(src, key, n_splits)
        .orderBy("bucket")
        .select("min_key", "max_key", "n_rows")
        .collect()
    )
    start = clock.now()
    copied = 0
    for i, row in enumerate(plan):
        if rows_per_second and copied:
            earliest = start + copied / rows_per_second
            delay = earliest - clock.now()
            if delay > 0:
                clock.sleep(delay)
        if i + 1 < len(plan):
            pred = (F.col(key) >= row.min_key) & (F.col(key) < plan[i + 1].min_key)
        else:
            pred = (F.col(key) >= row.min_key) & (F.col(key) <= row.max_key)
        src.filter(pred).write.mode("overwrite").parquet(
            os.path.join(table_dir, f"range={i}")
        )
        copied += row.n_rows
    return _read_ranged_target(spark, table_dir, src)


def table_counts(spark: SparkSession, sf_dir: str, tables=TABLES) -> DataFrame:
    """Row-count validation (A7): one row per table with its count.

    Post-copy ``count(source) == count(target)`` is the migrator's
    cheapest invariant. Parquet answers a bare count from row-group
    metadata without decoding pages, but each table still pays a Spark
    job with one task per part file; ``parquet_row_count`` gives the
    same number from the footers with no job at all.
    """
    counts = [
        load_table(spark, sf_dir, name).agg(
            F.lit(name).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        )
        for name in tables
    ]
    return reduce(lambda a, b: a.unionByName(b), counts)


def content_checksum(df: DataFrame, table_name: str) -> DataFrame:
    """Content checksum validation (A8): order-insensitive content hash.

    Per-row ``md5(concat_ws('|', cols))`` (md5 is standardized → identical
    across engines) reduced with order-insensitive aggregates. Matching
    (n_rows, n_distinct, min, max) on source and target proves the copy
    preserved values without sorting either side. Restricted to
    exact-typed columns (int/string) by callers — float formatting is not
    cross-engine stable (SURVEY.md §5.4).
    """
    row_hash = F.md5(
        F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns])
    )
    return df.select(row_hash.alias("h")).agg(
        F.lit(table_name).alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("h").alias("n_distinct_hashes"),
        F.min("h").alias("min_hash"),
        F.max("h").alias("max_hash"),
    )


def copy_table_compacted(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    rows_per_file: int,
) -> DataFrame:
    """Compaction copy (the small-files lever of a migration): size the
    target layout explicitly — ceil(rows / rows_per_file) output files
    via round-robin repartition — instead of inheriting however many
    fragments the source scan produced.

    Why it matters at 100 TB: a migrator that writes one file per input
    task turns a fragmented source into a fragmented target; every
    downstream scan then pays per-file open/seek overhead. Sizing from
    the source's footer row counts (``parquet_row_count``: no Spark job)
    keeps target files near the optimal ~128 MB-1 GB band regardless of
    source layout. The repartition is the one (round-robin, balanced)
    shuffle a compaction copy fundamentally requires."""
    src = load_table(spark, src_dir, name)
    n_rows = parquet_row_count(table_path(src_dir, name))
    n_files = max(1, -(-n_rows // rows_per_file))
    dst = os.path.join(dst_dir, f"{name}.parquet")
    src.repartition(n_files).write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst)


def snapshot_diff(
    source: DataFrame,
    target: DataFrame,
    key: str,
    cols: tuple[str, ...],
) -> DataFrame:
    r"""Incremental-migration diff: compare source and target snapshots
    by per-row content hash over ``cols`` and emit a repair plan —
    (key, status, action) for every key that is missing, changed, or
    extra; in-sync keys are filtered out and never materialize.

    status -> action: missing_in_target -> copy, changed -> recopy,
    extra_in_target -> delete.

    Scale shape: one md5 projection per side at scan speed, a full
    outer join that shuffles each side once on the key (co-located if
    both sides are bucketed on it), and the output is proportional to
    the DRIFT, not the table — the property that makes incremental
    re-migration cheap. ``cols`` must be exact-typed (no floats):
    float formatting is not cross-engine stable (SURVEY.md §5.4).

    The per-row hash is NULL- and delimiter-unambiguous: every column
    is escaped (``\`` doubled, ``|`` → ``\|``) and NULL encodes as the
    bare ``\N`` sentinel, which no escaped value can produce (escape
    output only emits backslashes in pairs or before ``|``) — the
    PostgreSQL COPY convention. A naive ``concat_ws`` hash silently
    skips NULLs, so rows differing only in WHICH column is NULL (or via
    an injected delimiter) would hash identical and a drifted row would
    be reported in-sync — a missed repair."""
    def hashed(df: DataFrame, out: str) -> DataFrame:
        def enc(c: str):
            s = F.col(c).cast("string")
            esc = F.replace(
                F.replace(s, F.lit("\\"), F.lit("\\\\")),
                F.lit("|"),
                F.lit("\\|"),
            )
            return F.when(s.isNull(), F.lit("\\N")).otherwise(esc)

        return df.select(
            F.col(key),
            F.md5(F.concat_ws("|", *[enc(c) for c in cols])).alias(out),
        )

    s = hashed(source, "h_src")
    tg = hashed(target, "h_tgt").withColumnRenamed(key, "_tgt_key")
    j = s.join(tg, s[key] == tg["_tgt_key"], "full_outer")
    status = (
        F.when(F.col("_tgt_key").isNull(), "missing_in_target")
        .when(F.col(key).isNull(), "extra_in_target")
        .when(F.col("h_src") != F.col("h_tgt"), "changed")
    )
    action = (
        F.when(F.col("_tgt_key").isNull(), "copy")
        .when(F.col(key).isNull(), "delete")
        .otherwise("recopy")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            F.coalesce(F.col(key), F.col("_tgt_key")).alias(key),
            "status",
            action.alias("action"),
        )
    )


def migrate_keyspace(
    spark: SparkSession, src_dir: str, dst_dir: str, tables=TABLES
) -> DataFrame:
    """The reference's WHOLE JOB as one operator: copy every table of
    the keyspace to the target, then emit the per-table validation
    report (source count, target count, match flag) — A4 + A7
    composed over the full keyspace.

    Each table's copy is the shuffle-free scan→write pass of
    ``copy_table``, coalesced to ~1M-row output files so the target
    never inherits the source's fragmentation (coalesce is narrow — it
    merges read splits without a shuffle; a4f's repartition form is the
    rebalancing alternative). Tables are independent, so their copy
    jobs are SUBMITTED CONCURRENTLY from a thread pool — the standard
    Spark pattern for fleets of small independent jobs (the scheduler
    interleaves them across executors; per-job fixed overhead stops
    serializing). Both counts are summed from parquet footers
    (``parquet_row_count``): the source's part files before the write,
    and the part files the write committed after it. Neither is a Spark
    job, so a table costs two jobs, the scan's schema inference and the
    write. The report rows are collected driver-side per TABLE NAME (10
    scalars, never data) and emitted as one frame in ``tables`` order."""
    from concurrent.futures import ThreadPoolExecutor

    def copy_one(name: str):
        src = load_table(spark, src_dir, name)
        dst = table_path(dst_dir, name)
        n_src = parquet_row_count(table_path(src_dir, name))
        n_files = max(1, -(-n_src // 1_000_000))
        src.coalesce(n_files).write.mode("overwrite").parquet(dst)
        n_dst = parquet_row_count(dst)
        return (name, n_src, n_dst, n_src == n_dst)

    with ThreadPoolExecutor(max_workers=min(8, len(tables))) as ex:
        rows = list(ex.map(copy_one, tables))  # preserves tables order
    return local_frame(
        spark,
        rows,
        "table_name string, n_rows_src bigint, n_rows_dst bigint, counts_match boolean",
    )


def copy_table_clustered(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    range_col: str,
    cluster_cols: list[str],
    n_ranges: int = 8,
) -> DataFrame:
    """A4 at scale, layout variant 2: copy with a RANGE-CLUSTERED
    target — ``repartitionByRange`` on the range column (each output
    file covers a contiguous key range, the CQL partition-ordering
    analog) then ``sortWithinPartitions`` on the clustering columns
    (the CQL clustering-columns analog: rows physically ordered inside
    each file).

    Why at 100 TB: parquet stores per-row-group min/max stats, so a
    range predicate on the clustered column skips whole row groups in
    files whose range doesn't overlap — the complement of a4d's
    directory-level partition pruning, without the small-files risk of
    high-cardinality partitionBy. Sorting within partitions also makes
    downstream merge joins on the cluster key cheaper and compresses
    better (runs of similar values).
    """
    src = load_table(spark, src_dir, name)
    dst = os.path.join(dst_dir, f"{name}_clustered.parquet")
    (
        src.repartitionByRange(n_ranges, F.col(range_col))
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(dst)
    )
    return spark.read.parquet(dst)


def expectations_report(
    df: DataFrame, rules: list[tuple[str, F.Column]]
) -> DataFrame:
    """Declarative data-quality expectations (the deequ/dbt-test shape):
    each rule is (name, boolean Column that is True when the ROW
    VIOLATES the rule); the report is one row per rule with violation
    count, row count, and pass flag.

    Scale shape: every rule compiles into ONE conditional-sum aggregate
    over a SINGLE scan of the table (no per-rule passes, no shuffle at
    all — the aggregation is global partial+final over k counters), so
    adding rules is free at 100 TB: the cost is the scan you were
    already paying. Uniqueness-style rules that need a groupBy are the
    exception — express those as a separate key-partitioned check (cf.
    a18's orphan scans) rather than forcing them through this one-pass
    report."""
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for name, violated in rules:
        # coalesce: sum over an EMPTY table is NULL, but zero rows means
        # zero violations (and the rule passes)
        aggs.append(
            F.coalesce(F.sum(violated.cast("bigint")), F.lit(0)).alias(
                f"__v_{name}"
            )
        )
    row = df.agg(*aggs)
    reports = []
    for name, _ in rules:
        reports.append(
            row.select(
                F.lit(name).alias("rule_name"),
                F.col(f"__v_{name}").alias("n_violations"),
                F.col("__n_rows").alias("n_rows"),
                (F.col(f"__v_{name}") == 0).cast("bigint").alias("passed"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
