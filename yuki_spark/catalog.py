"""Catalog: named access to the test-data tables under an sf_dir.

Mirrors the reference's notion of versioned input storage
(`Yuki/kernel/impression_storage.py`): inputs are immutable parquet
artifacts addressed by name. Here a catalog root (``sf_dir``) maps
table name -> parquet path, registered as temp views so both the
DataFrame API and ``spark.sql`` can reach them.
"""
from __future__ import annotations

import os

from pyspark.sql import functions as F

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footers only (no Spark job) — the
    catalog-statistics estimate the adaptive LSH parameters consume
    (on a cluster this is the table-stats lookup). Handles a single
    file or a (possibly partitioned/nested) directory of part files;
    raises rather than return 0 for a layout with no parquet files —
    a silent 0 would collapse the adaptive parameters back to their
    minimums, reinstating the fixed-bucket blowup they prevent."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_rows
    total, found = 0, False
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                found = True
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    if not found:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return total


# Scan fan-out floors: minimum rows per task when the parquet layout
# itself cannot split (guide §2.2/§6 — a scan parallelizes at row-group
# grain, so a table written as one row group runs its whole
# scan + narrow pipeline + partial aggregation on ONE core no matter
# how many the cluster has). The floor encodes per-row downstream
# cost the optimizer cannot see: documents are tokenized (a ~50-token
# explode plus per-token work) or synthesized/decoded as media by
# every consumer and embeddings feed 64-dim vector arithmetic, so
# their rows are ~100x a plain columnar row; events rows carry a
# JSON props parse. Derived from the 100 MB-1 GB-per-task guidance
# scaled by bytes-of-work per row, not from any host's core count.
_ROWS_PER_TASK: dict[str, int] = {
    "documents": 512,
    "embeddings": 512,
    "events": 16384,
}
_DEFAULT_ROWS_PER_TASK = 1 << 16

# Which loads fan out when the caller does not say: documents rows
# are heavy for EVERY consumer (tokenize / media synth+decode), so
# the fan-out wins across that whole family; for the relational
# tables the benefit depends on the consumer (a pure aggregation
# parallelizes its partial-agg, while a join reshuffles by key
# immediately and the extra exchange is pure overhead — guide §2.4),
# so those callers opt in per query.
_FAN_OUT_DEFAULT: dict[str, bool] = {"documents": True}

# (rows, row-group scan units) per resolved path — parquet FOOTER
# metadata only (the same catalog-statistics surface as table_rows;
# on a cluster this is the metastore/manifest lookup). Never caches
# data or results; each entry is checked against the (relpath, size,
# mtime_ns) of every part file under the path, so an in-process
# rewrite anywhere below it — including inside a nested partition
# directory, which leaves the top directory's mtime alone —
# re-derives the layout instead of sizing the fan-out from stale
# stats.
_LAYOUT_CACHE: dict[str, tuple[tuple, tuple[int, int]]] = {}


def _scan_layout(path: str) -> tuple[int, int]:
    if os.path.isdir(path):
        files = sorted(
            os.path.join(dirpath, f)
            for dirpath, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    stats = [os.stat(f) for f in files]
    sig = tuple(
        (os.path.relpath(f, path), st.st_size, st.st_mtime_ns)
        for f, st in zip(files, stats)
    )
    hit = _LAYOUT_CACHE.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    import pyarrow.parquet as pq

    rows, units = 0, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        units += md.num_row_groups
    _LAYOUT_CACHE[path] = (sig, (rows, units))
    return rows, units


def _fan_out(spark: SparkSession, df: DataFrame, path: str, name: str) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.2): when the file layout
    provides fewer splittable units (row groups) than the work wants
    tasks, round-robin repartition the scan output so the narrow
    pipeline above it (tokenize/explode/partial aggregation) uses the
    cluster. Sized from catalog statistics — ceil(rows / per-table
    floor), capped at defaultParallelism — so a 100 TB table (whose
    layout already yields thousands of units) is returned UNCHANGED:
    the exchange exists only where the data is small enough that it
    costs microseconds and buys the whole scan stage's parallelism.
    Filters/pruning still push through a Repartition node, and
    round-robin placement is deterministic (sortBeforeRepartition),
    so results are partitioning-invariant."""
    rows, units = _scan_layout(path)
    floor = _ROWS_PER_TASK.get(name, _DEFAULT_ROWS_PER_TASK)
    target = min(
        spark.sparkContext.defaultParallelism, -(-rows // floor) if rows else 0
    )
    if target > units and target >= 2:
        return df.repartition(target)
    return df


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fan_out: bool | None = None,
) -> DataFrame:
    """Load one table. Declarative scan: Catalyst prunes columns and
    pushes filters into the parquet reader downstream. ``fan_out``
    opts the scan in/out of :func:`_fan_out` (None → the per-table
    default: on for ``documents``, off otherwise)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Spark 4 defaults inferTimestampNTZ=true, so µs-without-tz
    # parquet (orders/lineitem dates) reads as TIMESTAMP_NTZ in a
    # fresh session — and as TIMESTAMP once anything flipped the conf:
    # an ORDER-DEPENDENT schema (r12 finding — the snapshot gate only
    # passed when an events load happened to run first). Pin it off
    # unconditionally (runtime-settable), for ANY caller session.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        # events.parquet has shipped as TIMESTAMP(NANOS) (which a
        # default session refuses to read) and as plain µs-without-tz.
        # The engine must behave identically under ANY caller-provided
        # SparkSession and either file flavor, so set the
        # (runtime-settable) escape hatch here, not only in our
        # session factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # nanosAsLong=true surfaces the TIMESTAMP(NANOS) column as raw
        # nanos; truncate to µs exactly like DuckDB does on read.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif name == "events" and ts_type == "timestamp_ntz":
        # a session that pre-cached NTZ inference: reinterpret the
        # naive µs value as a *UTC* instant regardless of the caller
        # session's timezone
        df = ntz_as_utc_instant(df, "ts")
    if fan_out is None:
        fan_out = _FAN_OUT_DEFAULT.get(name, False)
    if fan_out:
        return _fan_out(spark, df, table_path(sf_dir, name), name)
    return df


def ntz_as_utc_instant(df: DataFrame, colname: str) -> DataFrame:
    """Reinterpret a TIMESTAMP_NTZ column as UTC instants under ANY
    session timezone. A bare cast interprets the naive value in the
    *session* tz - which both shifts the instant by the tz offset and,
    in DST zones, mangles wall times inside a spring-forward gap (the
    local-time mapping is not total there). Instead the cast is
    analyzed while the session tz is pinned to UTC: Spark's
    ResolveTimeZone stamps the zone into the Cast expression at
    analysis time (withColumn analyzes eagerly), so execution uses
    UTC - offset-free, DST-free, total - no matter what the session
    tz is by then."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        return df.withColumn(colname, F.col(colname).cast("timestamp"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view named after itself."""
    out = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
