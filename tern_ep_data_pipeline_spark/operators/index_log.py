"""Index tables as immutable parquet files plus numbered manifests.

One index root (the ``path`` argument of ``dedup_index``) holds one or
more tables — the match index's ``exact`` and ``bands``, the gram index's
``grams`` and ``grams_meta``, ``chunks``, ``lines`` — and one log:

    <root>/<table>/<uuid>/part-*.parquet   immutable data files
    <root>/_v/<N>.json                      manifest N

Manifest N lists every live file of every table of the root, with its
rows and bytes, plus the operation that made it (``append``, ``compact``
or ``overwrite``) and the tables it touched. A reader scans the files of
the newest manifest (:func:`scan`); a file that no manifest lists does
not exist for it.

Every write lands in a fresh ``<table>/<uuid>/`` dir (:func:`write`). A
commit (:func:`commit`) is the creation of ``_v/<N+1>.json`` if and only
if it is absent — nothing is renamed, so the same protocol runs on a
local disk and on a store without rename (the Delta / Iceberg log, in
miniature). Until its commit a write is invisible, so a crash leaves
only unlisted files, which :func:`sweep` deletes once they are older
than :data:`GRACE_S`.

Concurrent writers are optimistic. A commit that finds a newer version
than the one its writer read rebases onto it when every commit in
between was a compaction (which never changes what a reader computes
from a table) or touched other tables, and when every file it removes
is still live. Otherwise it deletes its own files and raises
:class:`CommitConflict`; :func:`transact` then reruns the writer against
the new version.

All IO goes through the Hadoop filesystem of the root's scheme. The one
fork is the create-if-absent in :func:`create_exclusive`.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.artifacts import read_small_file

#: Seconds an unlisted file, or a manifest superseded by a newer one,
#: survives :func:`sweep`. It covers a writer between its write and its
#: commit, and a reader still scanning the files of an older manifest.
GRACE_S = 3600.0

#: Attempts :func:`transact` makes before a run of conflicts is raised.
MAX_ATTEMPTS = 16

_LOG = "_v"


class CommitConflict(RuntimeError):
    """A newer commit changed what this writer read; its files are gone
    and it must rerun against the new version."""


@dataclass(frozen=True)
class Snapshot:
    """One manifest: ``version`` 0 is the empty root."""

    root: str
    version: int
    tables: dict

    def has(self, table: str) -> bool:
        return table in self.tables

    def files(self, table: str) -> list[dict]:
        return self.tables[table]["files"] if table in self.tables else []

    def rows(self, table: str) -> int:
        return sum(f["rows"] for f in self.files(table))

    def bytes(self, table: str) -> int:
        return sum(f["bytes"] for f in self.files(table))


# ---------------------------------------------------------------- filesystem

def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _ls(spark: SparkSession, path: str) -> list[tuple[str, bool, float]]:
    """(name, is_dir, mtime seconds) of each entry; [] when ``path`` is
    absent."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        (st.getPath().getName(), st.isDirectory(), st.getModificationTime() / 1e3)
        for st in fs.listStatus(jpath)
    ]


def _delete(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)


def create_exclusive(spark: SparkSession, path: str, data: bytes) -> bool:
    """Create ``path`` holding ``data`` only if it is absent; False when
    it exists. Locally the data goes to a private temp file that is then
    hard-linked into place: ``link`` fails on an existing name, like
    ``O_CREAT|O_EXCL``, and the file appears with its whole content, so
    a crash cannot leave a half-written manifest under a live name (the
    temp file is swept). A ``://`` path goes through the Hadoop
    filesystem's ``create(overwrite=false)``, atomic where the store
    makes it so (HDFS, object stores with conditional puts)."""
    if "://" not in path:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
    fs, jpath = _fs(spark, path)
    try:
        stream = fs.create(jpath, False)
    except Py4JJavaError as exc:
        name = exc.java_exception.getClass().getSimpleName()
        if name == "FileAlreadyExistsException":
            return False
        raise
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    return True


# ------------------------------------------------------------------ manifests

def _manifest_path(root: str, version: int) -> str:
    return f"{root}/{_LOG}/{version}.json"


def _version(name: str) -> int | None:
    """N for a manifest named ``<N>.json``, else None."""
    stem = name[:-5] if name.endswith(".json") else ""
    return int(stem) if stem.isdigit() else None


def _versions(spark: SparkSession, root: str) -> list[int]:
    return sorted(
        v for name, is_dir, _ in _ls(spark, f"{root}/{_LOG}")
        if not is_dir and (v := _version(name)) is not None
    )


def _refuse_legacy(spark: SparkSession, root: str) -> None:
    """A root without manifests whose table dirs hold files directly is
    an older build's plain parquet layout. Uncommitted writes of this
    layout sit one level down, in ``<table>/<uuid>/``, so they pass."""
    for name, is_dir, _ in _ls(spark, root):
        if is_dir and name != _LOG and any(
            not sub_is_dir for _, sub_is_dir, _ in _ls(spark, f"{root}/{name}")
        ):
            raise ValueError(
                f"index root {root!r} holds tables in an older layout "
                "(plain parquet directories, no _v/ manifests) that this "
                "version does not read; rebuild the index: delete the "
                "directory and run its build_*_index function"
            )


def snapshot(spark: SparkSession, root: str) -> Snapshot:
    """The newest manifest of ``root``; version 0 when it has none."""
    root = root.rstrip("/")
    versions = _versions(spark, root)
    if not versions:
        _refuse_legacy(spark, root)
        return Snapshot(root, 0, {})
    return _load(spark, root, versions[-1])


def _load(spark: SparkSession, root: str, version: int) -> Snapshot:
    doc = json.loads(read_small_file(spark, _manifest_path(root, version)))
    return Snapshot(root, version, doc["tables"])


def scan(
    spark: SparkSession, root: str, table: str, snap: Snapshot | None = None
) -> DataFrame:
    """The live rows of ``table``: a parquet scan of exactly the files
    the manifest lists (the newest one unless ``snap`` pins another)."""
    if snap is None:
        snap = snapshot(spark, root)
    if not snap.has(table):
        raise FileNotFoundError(f"index {snap.root!r} has no {table!r} table")
    return scan_files(spark, snap, table, snap.files(table))


def scan_files(
    spark: SparkSession, snap: Snapshot, table: str, files: list[dict]
) -> DataFrame:
    """A parquet scan of some of ``table``'s files. The manifest's schema
    is passed, so no footer is read to infer it and zero files scan as
    an empty table."""
    schema = T.StructType.fromJson(json.loads(snap.tables[table]["schema"]))
    return spark.read.schema(schema).parquet(
        *(f"{snap.root}/{f['path']}" for f in files)
    )


# ---------------------------------------------------------------------- write

def write(df: DataFrame, root: str, table: str, compacted: bool = False) -> dict:
    """Write ``df`` into a fresh ``<root>/<table>/<uuid>/`` dir and
    describe it for :func:`commit`: the dir, the table, its schema and
    each non-empty file with its rows (from the parquet footer) and
    bytes. ``compacted`` marks files a compaction wrote
    (:func:`dedup_index.dirty_fraction` counts the others)."""
    root = root.rstrip("/")
    spark = df.sparkSession
    rel = f"{table}/{uuid.uuid4().hex}"
    df.write.parquet(f"{root}/{rel}")
    fs, jpath = _fs(spark, f"{root}/{rel}")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    files = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            rows = int(reader.getRecordCount())
        finally:
            reader.close()
        if rows:
            files.append({
                "path": f"{rel}/{name}",
                "rows": rows,
                "bytes": int(st.getLen()),
                "compacted": compacted,
            })
    return {"dir": rel, "table": table, "schema": df.schema.json(), "files": files}


def _discard(spark: SparkSession, root: str, adds: list[dict]) -> None:
    for a in adds:
        _delete(spark, f"{root}/{a['dir']}")


# --------------------------------------------------------------------- commit

def commit(
    spark: SparkSession,
    root: str,
    read_version: int | None,
    adds: list[dict],
    removes: list[str] = (),
    op: str = "append",
    read: Snapshot | None = None,
) -> Snapshot:
    """Publish ``adds`` (results of :func:`write`) and drop ``removes``
    (file paths as the manifest lists them) as one new version.

    ``op`` is ``append``, ``compact`` (the new files hold what the
    removed ones held, as a reader computes it) or ``overwrite`` (every
    live file of the added tables is replaced). ``read_version`` is the
    version the writer's result depends on; ``None`` marks a blind write
    that depends on none. A commit that finds newer versions rebases onto
    them unless one touched its tables without being a compaction (for an
    append) or a file it removes is gone (for a compaction); then its
    files are deleted and :class:`CommitConflict` raised. ``read``, the
    snapshot the writer read, is tried first as the newest, so an
    uncontended commit reads no manifest."""
    root = root.rstrip("/")
    touched = {a["table"] for a in adds} | {p.split("/", 1)[0] for p in removes}
    latest = read if read is not None else snapshot(spark, root)
    while True:
        if read_version is not None and op == "append":
            for v in range(read_version + 1, latest.version + 1):
                try:
                    doc = json.loads(read_small_file(spark, _manifest_path(root, v)))
                except Py4JJavaError:  # swept: cannot prove it harmless
                    doc = {"op": "unknown", "touched": sorted(touched)}
                if doc["op"] != "compact" and touched & set(doc["touched"]):
                    _discard(spark, root, adds)
                    raise CommitConflict(
                        f"version {v} of {root!r} ({doc['op']}) changed "
                        f"{sorted(touched & set(doc['touched']))} after "
                        f"this writer read version {read_version}"
                    )
        tables = {t: dict(v) for t, v in latest.tables.items()}
        dropped = set(removes)
        live = {f["path"] for t in touched & tables.keys() for f in tables[t]["files"]}
        if dropped - live:
            _discard(spark, root, adds)
            raise CommitConflict(
                f"{len(dropped - live)} file(s) this compaction merged are no "
                f"longer live in {root!r}"
            )
        for t in touched & tables.keys():
            tables[t]["files"] = [] if op == "overwrite" else [
                f for f in tables[t]["files"] if f["path"] not in dropped
            ]
        for a in adds:
            entry = tables.setdefault(a["table"], {"files": []})
            entry["schema"] = a["schema"]
            entry["files"] = entry["files"] + a["files"]
        doc = {"op": op, "touched": sorted(touched), "tables": tables}
        if create_exclusive(
            spark,
            _manifest_path(root, latest.version + 1),
            json.dumps(doc, sort_keys=True).encode(),
        ):
            return Snapshot(root, latest.version + 1, tables)
        # another writer took latest+1 first: check it and retry
        latest = snapshot(spark, root)


def transact(spark: SparkSession, root: str, attempt):
    """Run ``attempt(snap) -> (adds, removes, op, result)`` against the
    newest version and commit what it wrote; on a conflict, rerun it
    against the version that won. Returns ``(result, committed
    snapshot)``; an attempt that adds and removes nothing commits
    nothing and returns its read snapshot."""
    for _ in range(MAX_ATTEMPTS):
        snap = snapshot(spark, root)
        adds, removes, op, result = attempt(snap)
        if not any(a["files"] for a in adds) and not removes and op != "overwrite":
            _discard(spark, snap.root, adds)
            return result, snap
        try:
            return result, commit(
                spark, root, snap.version, adds, removes, op, read=snap
            )
        except CommitConflict:
            continue
    raise CommitConflict(
        f"{MAX_ATTEMPTS} attempts in a row lost to concurrent commits on {root!r}"
    )


# ---------------------------------------------------------------------- sweep

def sweep(spark: SparkSession, root: str) -> dict:
    """Delete what no retained manifest lists, once older than
    :data:`GRACE_S`: crashed or conflicting writers' files, files a
    compaction replaced, and manifests superseded that long ago (the
    newest is always kept). Returns how many files and manifests went."""
    root = root.rstrip("/")
    now = time.time()
    logs = {
        name: mtime for name, is_dir, mtime in _ls(spark, f"{root}/{_LOG}")
        if not is_dir
    }
    versions = sorted(v for n in logs if (v := _version(n)) is not None)
    if not versions:
        return {"files": 0, "manifests": 0}
    keep = [
        v for v in versions
        if v == versions[-1] or logs.get(f"{v + 1}.json", now) > now - GRACE_S
    ]
    live: set[str] = set()
    for v in keep:
        live.update(
            f["path"] for t in _load(spark, root, v).tables.values() for f in t["files"]
        )
    n_files = 0
    for table, is_dir, _ in _ls(spark, root):
        if not is_dir or table == _LOG:
            continue
        for sub, sub_is_dir, sub_mtime in _ls(spark, f"{root}/{table}"):
            if not sub_is_dir or sub_mtime > now - GRACE_S:
                continue  # a writer may still be filling it
            entries = _ls(spark, f"{root}/{table}/{sub}")
            if max((m for *_, m in entries), default=0) > now - GRACE_S:
                continue  # the same, on a store that keeps no dir times
            data = [
                n for n, d, _ in entries
                if not d and n.endswith(".parquet") and not n.startswith((".", "_"))
            ]
            listed = [n for n in data if f"{table}/{sub}/{n}" in live]
            if not listed:
                _delete(spark, f"{root}/{table}/{sub}")
                n_files += len(data)
                continue
            for n in set(data) - set(listed):
                _delete(spark, f"{root}/{table}/{sub}/{n}")
                n_files += 1
    n_manifests = 0
    for name, mtime in logs.items():
        # a checksum sidecar goes with the file it belongs to
        if _version(name) not in keep and not name.startswith(".") and (
            mtime <= now - GRACE_S
        ):
            _delete(spark, f"{root}/{_LOG}/{name}")
            n_manifests += name.endswith(".json")
    return {"files": n_files, "manifests": n_manifests}
