"""Parquet lake loaders for the driver testdata star schema.

The reference engine's universal intermediary is a time-indexed wide table
(``code/file_handling/file_io.py:102-132`` builds it from TOA5/EddyPro files);
here the equivalent canonical store is partitioned Parquet read straight into
DataFrames. All timestamps are timezone-naive (``TIMESTAMP_NTZ``) matching the
reference's naive-local-time convention (SURVEY.md §1.2).

The driver testdata writes ``events.ts`` as parquet ``TIMESTAMP(NANOS)``,
which Spark has no native type for. With
``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as long
nanoseconds; we convert with *integer* division (``div 1000`` — a double
division would lose precision above 2^53) and ``timestampadd`` on a
TIMESTAMP_NTZ base so the result is timezone-independent and matches DuckDB's
nanos->micros truncation bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: All tables in the driver testdata lake.
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

#: Columns stored as TIMESTAMP(NANOS) that arrive as long nanoseconds.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _nanos_to_ntz(col: str) -> F.Column:
    # `div` = integer division on longs: exact for any epoch-nanos value,
    # and truncation == floor for post-1970 data (matches DuckDB).
    return F.expr(f"timestampadd(MICROSECOND, {col} div 1000, {_EPOCH_NTZ})")


#: Scan-fanout window: tables between these sizes qualify for the
#: split-deficit repartition below. The ceiling keeps any real lake table
#: (many files, many row groups) untouched; the floor keeps dim tables and
#: small fact tables out — for those the added exchange costs more wall
#: than the serial scan it parallelises (measured r15: only the ~11 MB
#: lineitem cleared break-even at sf0.1; orders/events queries are
#: window/join bound, not scan bound).
_FANOUT_MIN_BYTES = 4 * 1024 * 1024
_FANOUT_MAX_BYTES = 256 * 1024 * 1024

#: (path, version) -> (row_groups, bytes) so repeated loads of one table
#: read the parquet footer once per session, not once per query build.
_SPLIT_CACHE: dict[tuple[str, tuple], tuple[int, int]] = {}


def _path_version(path: str) -> tuple:
    """Change signal for a parquet file OR directory, used in cache keys:
    (name, size, mtime) of every contained ``.parquet`` file, sorted by
    name. A rewrite of an existing file inside a directory does not
    reliably bump the directory's own mtime (ADVICE r15), and a max mtime
    alone misses a deleted part file or one replaced by a file with an
    older timestamp. Plain files and directories without parquet files
    fall back to the path's own (size, mtime)."""
    try:
        if os.path.isdir(path):
            parts = []
            for f in sorted(os.listdir(path)):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(path, f))
                    parts.append((f, st.st_size, st.st_mtime))
            if parts:
                return tuple(parts)
        st = os.stat(path)
        return ((st.st_size, st.st_mtime),)
    except OSError:
        return ()


def _scan_splits(path: str) -> tuple[int, int] | None:
    """(row_groups, total_bytes) for a local parquet file/dir, or None when
    the footprint cannot be inspected cheaply (non-local path, no pyarrow).
    Parquet scans split at ROW-GROUP boundaries, so row groups — not bytes
    — bound a scan's real parallelism."""
    try:
        key = (path, _path_version(path))
        hit = _SPLIT_CACHE.get(key)
        if hit is not None:
            return hit
        import pyarrow.parquet as pq

        files = (
            [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        groups = 0
        nbytes = 0
        for f in files:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            nbytes += os.path.getsize(f)
        _SPLIT_CACHE[key] = (groups, nbytes)
        return groups, nbytes
    except Exception:
        return None


def _fanout_if_split_deficient(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive scan fanout (r15, guide §2.5 "input skew"): a parquet
    file with one row group is UNSPLITTABLE — every stage fused onto its
    scan runs on one task no matter the cluster size. When the table's
    row-group count is below half the default parallelism AND the table is
    small (``_FANOUT_MAX_BYTES``), append an explicit round-robin
    repartition so downstream filters/aggregations parallelise. Catalyst
    still pushes filters and column pruning THROUGH the repartition to the
    scan, every aggregate in the suite is an exact decimal/integer (so the
    result is partition-independent), and ``sortBeforeRepartition`` keeps
    the row->partition assignment deterministic under retries. At real
    lake scale no table passes the bounds, so production plans are
    byte-identical to r14."""
    n = spark.sparkContext.defaultParallelism
    info = _scan_splits(path)
    if info is None:
        return df
    groups, nbytes = info
    if groups * 2 >= n or not (_FANOUT_MIN_BYTES <= nbytes <= _FANOUT_MAX_BYTES):
        return df
    return df.repartition(n)


#: (app_id, path, version) -> the loaded DataFrame (a LAZY logical plan, no
#: data): every query build was re-running spark.read.parquet + the dtype
#: normalisation for every table it touches — ~45 py4j round trips and a
#: parquet-footer schema read per load, 0.1-0.15 s of serial driver wall
#: each (measured r16, the single largest per-build cost). DataFrames are
#: immutable, so handing every caller the same plan object is semantics-
#: free: each action still scans the parquet inputs from disk — nothing is
#: persisted or precomputed (bench's no-result-caching contract intact).
#: Keyed on the file set's names, sizes and mtimes (:func:`_path_version`)
#: so a rewritten, added or deleted input file never false-hits.
_LOAD_CACHE: dict[tuple[str, str, tuple], DataFrame] = {}


#: (path, version) -> parquet metadata row count (footer read, no Spark job).
_ROWS_CACHE: dict[tuple[str, tuple], int] = {}


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a testdata table from parquet FOOTER metadata —
    ~1 ms, no Spark job, no scan. Used for build-time routing decisions
    (e.g. graph.dedup_clusters' lazy-vs-distributed gate) where running a
    count() would defeat the lazy build being routed. None when the
    footprint cannot be inspected (non-local path, no pyarrow)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (path, _path_version(path))
        hit = _ROWS_CACHE.get(key)
        if hit is not None:
            return hit
        import pyarrow.parquet as pq

        files = (
            [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        _ROWS_CACHE[key] = n
        return n
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalised timestamp types."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, path, _path_version(path))
    hit = _LOAD_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in _NANO_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, _nanos_to_ntz(c))
    # NOT wired to _fanout_if_split_deficient (r15, measured BOTH ways):
    # the split-deficit repartition won +12% on the lineitem family in a
    # healthy-box interleaved A/B (pricing_summary 1.154 -> 1.018 s
    # min-of-4) but LOST 40% under host-degraded IO (1.222 -> 1.746 s,
    # same data, same code, hours apart) — the extra exchange's cost
    # tracks box health while the serial-scan cost it removes does not.
    # A coin-flip dependent on the bench host's state is not a win;
    # the helper stays for callers that KNOW their environment.
    if len(_LOAD_CACHE) > 256:  # bound: long-lived sessions over many dirs
        _LOAD_CACHE.clear()
    _LOAD_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view (mirrors the DuckDB oracle setup)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
