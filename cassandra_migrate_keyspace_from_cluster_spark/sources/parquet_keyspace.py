"""Parquet "keyspace" source.

The engine's testable data model treats a directory of parquet files as
a keyspace and each file as a table (SURVEY.md §1.2, Part A). On a real
deployment the same operators read from Cassandra via the Spark
Cassandra Connector (see ``sources/cassandra.py`` for the design); the
query layer is source-agnostic because everything downstream is plain
DataFrame ops.

Scale notes:
  - ``spark.read.parquet`` gives Catalyst full pushdown: predicate →
    parquet row-group skip, projection → column pruning. Queries select
    the minimal column set so a 100-TB scan reads only what it needs.
  - At scale the per-table files would be directories partitioned on a
    high-cardinality key (e.g. ``o_orderdate`` month); the loader is
    path-based so that change is transparent to the query layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def list_part_files(path: str) -> list[str]:
    """Physical part files of a table path — a single parquet file, or
    the sorted ``*.parquet`` parts of a DIRECTORY. At 100 TB a table
    is always a directory of many writers' part files (and a commitlog
    is segment files), so nothing may assume one footer per table; the
    fixtures just happen to be single files. Sorted for deterministic
    global order wherever a source assigns positions across parts."""
    if os.path.isdir(path):
        import glob

        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no *.parquet part files under {path}")
        return parts
    return [path]


def parquet_row_count(path: str) -> int:
    """Exact row count of a table path, summed from the ``num_rows`` of
    its part files' footers: no Spark job and no data page read, one
    footer per part file (Spark's ``_SUCCESS`` and ``.crc`` side files
    are not parts)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in list_part_files(path))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one keyspace table as a DataFrame (schema from parquet footer).

    Timestamp normalization (the generated fixtures have drifted across
    driver rounds; the query layer always sees plain ``TimestampType``):

    - parquet TIMESTAMP(NANOS) (r1/r2 fixtures): no native Spark type;
      with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as
      nanos-since-epoch and is converted to µs TimestampType (lossless:
      generated values are µs-resolution).
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (r3 fixtures):
      Spark 4 infers TIMESTAMP_NTZ, which LTZ-only expressions
      (``unix_micros``, ``to_utc_timestamp``) reject at analysis.
      Cast to ``timestamp``: the NTZ wall-clock is interpreted in the
      session zone and rendered back in the session zone, so collected
      values round-trip to the same wall-clock on any session tz —
      matching DuckDB's naive read of the same file.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    # NANOS detection is footer-driven, not column-name-driven: ANY
    # column Spark read as bigint whose parquet logical type is a
    # nanosecond timestamp came through the nanosAsLong legacy path
    # (r1/r2 fixtures did this for events.ts; a future regen could do
    # it to any table).
    bigint_cols = [c for c, dt in dtypes.items() if dt == "bigint"]
    if bigint_cols:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        # directory-aware: sniff the FIRST part file's footer (all
        # parts of one table share a schema; multifile probe)
        footer = pq.read_schema(list_part_files(path)[0])
        for col in bigint_cols:
            if col in footer.names and pat.is_timestamp(footer.field(col).type):
                from pyspark.sql import functions as F

                assert footer.field(col).type.unit == "ns", footer.field(col)
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
                )
    for col, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(col, df[col].cast("timestamp"))
    return stabilize_wallclock(df)


# Zone ids whose offset is permanently 00:00 — rendering under these
# already equals the declared UTC wall-clock, so no wrap is needed.
# An unknown-but-UTC alias merely falls through to the wrap, which is
# then an identity on every value (only pushdown is lost) — the safe
# direction.
_UTC_EQUIVALENT = frozenset({
    "UTC", "Etc/UTC", "Etc/Universal", "Etc/Zulu", "Etc/GMT", "Etc/GMT0",
    "Etc/GMT+0", "Etc/GMT-0", "Etc/Greenwich", "GMT", "GMT0", "Greenwich",
    "Universal", "Zulu", "Z", "+00:00", "UTC+00:00", "GMT+00:00",
})


def stabilize_wallclock(df: DataFrame) -> DataFrame:
    """Render epoch-pinned TimestampType columns as the same naive
    wall-clock under ANY session timezone.

    The fixtures' timestamps are parquet INT64 micros whose value IS
    the intended naive wall-clock, read with inferTimestampNTZ disabled
    (see session.py — LTZ-only expressions reject NTZ), so Spark sees
    plain TimestampType whose internal epoch equals that wall-clock.
    Under a UTC session — which both engine session paths pin
    (build_session / configure_existing) — rendering already equals the
    declared wall-clock and this is a NO-OP branch: columns are
    returned untouched and parquet pushdown of timestamp predicates is
    preserved.

    Under any other session timezone (a plain session on a non-UTC box
    with configure_existing bypassed), Spark would render those
    instants shifted by the session offset — silently changing filter
    membership, date_trunc/window bucketing, and every rendered value
    (measured: 24 of 207 queries drift under Etc/GMT-8 without this —
    tools/conf_invariance.py's tz_utc_plus8 probe).
    ``to_utc_timestamp(col, session_tz)`` shifts the epoch so the
    session rendering equals the declared wall-clock: exact for
    fixed-offset zones; DST zones are exact except inside a transition
    hour, where naive wall-clock semantics are inherently ill-defined.
    The wrap sits above the scan, so timestamp-predicate pushdown is
    traded for correctness in this off-contract mode.
    """
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    if tz in _UTC_EQUIVALENT:
        return df
    from pyspark.sql import functions as F

    for col, dt in df.dtypes:
        if dt == "timestamp":
            df = df.withColumn(col, F.to_utc_timestamp(F.col(col), tz))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so queries can be expressed in Spark SQL."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
