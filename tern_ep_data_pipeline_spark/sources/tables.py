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
    # No split-deficit repartition of single-row-group tables (r15,
    # measured both ways): +12% on pricing_summary on a healthy box
    # (1.154 -> 1.018 s) but -40% under degraded IO (1.222 -> 1.746 s);
    # the extra exchange's cost tracks host health, the serial scan's not.
    if len(_LOAD_CACHE) > 256:  # bound: long-lived sessions over many dirs
        _LOAD_CACHE.clear()
    _LOAD_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view (mirrors the DuckDB oracle setup)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
