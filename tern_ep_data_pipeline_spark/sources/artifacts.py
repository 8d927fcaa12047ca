"""Versioned, object-store-capable frozen-model artifacts (r13 verdict
#3/#4).

The frozen-model artifacts (the streaming DSIR ratio table and the
quality-model weights) refresh on a cadence while live streams read
them. Every artifact, on a local path or an object store, is
pointer-based, with no rename:

  {base}/v=N/...      complete version payloads, IMMUTABLE once live
  {base}/_CURRENT     one small object naming the live version

A refresh claims ``v=N+1`` by creating its ``_PUBLISHER`` stake only if
it is absent (``operators.index_log.create_exclusive``, the index
tables' commit primitive), writes the payload, then replaces
``_CURRENT`` — one single-key write. Readers resolve ``_CURRENT`` once
at stream construction and keep reading their resolved ``v=K`` dir: an
in-flight reader can never see a torn model because version payloads
are never mutated, and pruning retains the previous ``keep`` versions
so an old reader finishes on its old version (the metastore
compactors' reader-grace rule). A base without ``_CURRENT`` that holds
anything else is an older build's flat artifact, refused with a
request to republish it.

All IO goes through the Hadoop FileSystem of the path's scheme, so one
code path serves plain local paths, ``file://`` URIs and object-store
URIs alike. Where the claim is atomic (a local disk, HDFS, stores with
conditional puts) a second publisher of the same version aborts at
once. Where it is not, a FENCING TOKEN makes a publisher race
DETECTED rather than silently torn (r14 verdict #4 / ADVICE r14): the
``_CURRENT`` pointer carries ``<version> <token>``, the stake carries
its publisher's token, and every publisher re-reads both immediately
before AND after its pointer flip — a raced publish aborts cleanly
pre-flip (:class:`ArtifactPublishError`) or raises loudly post-flip,
and readers cross-check pointer token against stake at resolution. The
residual undetectable window there is two publishers' payload WRITES
interleaving inside the same version dir between their adjacent token
re-reads, closable only by an atomic claim.
"""

from __future__ import annotations

import time
import uuid

from py4j.protocol import Py4JJavaError

__all__ = [
    "ArtifactPublishError",
    "current_artifact_version",
    "current_artifact_dir",
    "publish_artifact_version",
    "read_small_file",
]

_POINTER = "_CURRENT"
_PUBTOKEN = "_PUBLISHER"


class ArtifactPublishError(RuntimeError):
    """A concurrent publisher won the race for this version — the
    losing publish aborted CLEANLY (nothing flipped, nothing of the
    winner's deleted); retry to publish on top of the winner."""


def _fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    ), jvm


def _exists(spark, path: str) -> bool:
    fs, jvm = _fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def read_small_file(spark, path: str) -> bytes:
    """Whole contents of one small file through the path's Hadoop
    filesystem (pointer files, meta.json — never data)."""
    fs, jvm = _fs(spark, path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return bytes(out.toByteArray())
    finally:
        stream.close()


def _write_small_file(spark, path: str, data: bytes) -> None:
    """Write one small file whole, replacing it if present: one
    ``create(overwrite=true)`` through the path's Hadoop filesystem (a
    single PUT on S3/GCS/ABFS, atomic per key; on a local disk a reader
    may catch it mid-write, which :func:`_read_pointer` retries)."""
    fs, jvm = _fs(spark, path)
    stream = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def _read_pointer(spark, base: str) -> tuple[int, str | None] | None:
    """(version, fencing token) from ``_CURRENT``, or None when the
    artifact is unpublished. Pre-r15 pointers carry only the version
    number — their token reads None and the fencing checks skip. A
    pointer caught mid-replace reads empty or fails its checksum, so a
    failed read is retried a few times before it is raised."""
    ptr = base.rstrip("/") + "/" + _POINTER
    for attempt in range(3):
        if not _exists(spark, ptr):
            return None
        try:
            parts = read_small_file(spark, ptr).decode().split()
            return int(parts[0]), (parts[1] if len(parts) > 1 else None)
        except (Py4JJavaError, ValueError, IndexError):
            if attempt == 2:
                raise
            time.sleep(0.05)


def current_artifact_version(spark, base: str) -> int | None:
    """The live version number, or None when the artifact has never
    been published (no ``_CURRENT`` pointer under ``base``)."""
    got = _read_pointer(spark, base)
    return None if got is None else got[0]


def current_artifact_dir(spark, base: str) -> str:
    """The live version's payload directory; raises when unpublished.

    When the pointer carries a fencing token AND the version dir
    carries a ``_PUBLISHER`` marker, the two must agree — a mismatch
    means a publisher race tore this version (one publisher's pointer
    naming another's payload) and the read refuses loudly instead of
    serving a hybrid artifact."""
    got = _read_pointer(spark, base)
    if got is None:
        fs, jvm = _fs(spark, base)
        jbase = jvm.org.apache.hadoop.fs.Path(base)
        if fs.exists(jbase) and (
            fs.isFile(jbase)
            or not any(
                st.getPath().getName().startswith("v=")
                for st in fs.listStatus(jbase)
            )
        ):
            raise ValueError(
                f"{base!r} holds an artifact published flat by an older "
                f"build (no {_POINTER} pointer), which this version does "
                "not read; republish it with its write_*_artifact function"
            )
        raise FileNotFoundError(
            f"no published version under {base!r} (missing {_POINTER})"
        )
    v, token = got
    vdir = f"{base.rstrip('/')}/v={v}"
    if token is not None:
        marker = vdir + "/" + _PUBTOKEN
        if _exists(spark, marker):
            have = read_small_file(spark, marker).decode().strip()
            if have != token:
                raise ArtifactPublishError(
                    f"torn artifact publication at {base!r}: {_POINTER} "
                    f"names version {v} with token {token!r} but "
                    f"{marker!r} carries {have!r} — two publishers raced "
                    "this version; re-publish before reading"
                )
    return vdir


def publish_artifact_version(spark, base: str, writer, keep: int = 2) -> int:
    """Publish one new artifact version: claim ``v=N+1`` by creating its
    ``_PUBLISHER`` stake only if absent, let ``writer(version_dir)``
    fill the payload, flip the ``_CURRENT`` pointer in one single-file
    replace, and prune versions older than the newest ``keep``. Returns
    the published version number.

    A stake that already exists belongs to a concurrent publisher, or to
    one that crashed: this publish aborts cleanly
    (:class:`ArtifactPublishError`, nothing changed) unless the pointer
    has not moved and the stake is older than the index tables' sweep
    grace (``index_log.GRACE_S``), in which case the leftovers are
    deleted and the version reclaimed. A writer that raises gives its
    version number back. The fencing re-reads (module docstring) catch
    a race the claim could not exclude: cleanly pre-flip, loudly
    post-flip. Either way the caller knows; nothing is silently
    superseded."""
    from ..operators.index_log import GRACE_S, create_exclusive

    if keep < 1:
        raise ValueError("keep must be >= 1 (the live version)")
    base = base.rstrip("/")
    token = uuid.uuid4().hex
    seen = _read_pointer(spark, base)
    nxt = (0 if seen is None else seen[0]) + 1
    vdir = f"{base}/v={nxt}"
    marker = vdir + "/" + _PUBTOKEN
    fs, jvm = _fs(spark, base)
    jv = jvm.org.apache.hadoop.fs.Path(vdir)
    if not create_exclusive(spark, marker, token.encode()):
        claimed = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(marker))
        age = time.time() - claimed.getModificationTime() / 1e3
        if _read_pointer(spark, base) != seen or age < GRACE_S:
            raise ArtifactPublishError(
                f"v={nxt} of {base!r} is claimed by another publisher "
                f"(stake {age:.0f}s old) — aborting cleanly (retry "
                "publishes on top of the winner)"
            )
        fs.delete(jv, True)  # a crashed publisher's leftovers
        if not create_exclusive(spark, marker, token.encode()):
            raise ArtifactPublishError(
                f"v={nxt} of {base!r} was reclaimed by another publisher "
                "— aborting cleanly"
            )

    def _stake_is_ours() -> bool:
        return (
            _exists(spark, marker)
            and read_small_file(spark, marker).decode().strip() == token
        )

    try:
        writer(vdir)
    except BaseException:
        if _stake_is_ours():
            fs.delete(jv, True)  # give the version number back
        raise
    if _read_pointer(spark, base) != seen:
        raise ArtifactPublishError(
            f"concurrent publisher flipped {base!r}/{_POINTER} while "
            f"this publish of v={nxt} was writing — aborting cleanly "
            "(nothing flipped; the winner's publication stands)"
        )
    if not _stake_is_ours():
        raise ArtifactPublishError(
            f"concurrent publisher re-staked {vdir!r} while this "
            "publish was writing — aborting cleanly (the competitor "
            "owns that version dir now)"
        )
    _write_small_file(spark, base + "/" + _POINTER, f"{nxt} {token}".encode())
    after = _read_pointer(spark, base)
    if after != (nxt, token) or not _stake_is_ours():
        raise ArtifactPublishError(
            f"torn publication detected at {base!r}: after flipping "
            f"{_POINTER} to v={nxt} token {token!r}, re-read found "
            f"pointer {after!r} — a concurrent publisher raced past "
            "the pre-flip checks; inspect and re-publish"
        )
    v = nxt - keep
    while v >= 1:
        jold = jvm.org.apache.hadoop.fs.Path(f"{base}/v={v}")
        if not fs.exists(jold):
            break
        fs.delete(jold, True)
        v -= 1
    return nxt
