"""Versioned, object-store-capable frozen-model artifacts (r13 verdict
#3/#4).

The frozen-model artifacts (the streaming DSIR ratio table and the
quality-model weights) refresh on a cadence while live streams read
them. On a local filesystem a directory rename is atomic, so the
tmp-swap in ``write_dsir_ratio_artifact`` works; object stores have no
rename — at 100 TB, where the model lives on object storage, the
publication must be pointer-based:

  {base}/v=N/...      complete version payloads, IMMUTABLE once live
  {base}/_CURRENT     one small object naming the live version

A refresh writes ``v=N+1`` fully, then replaces ``_CURRENT`` — a
single-key write (tmp + rename on POSIX; one PUT on S3/GCS/ABFS, all
strongly consistent for single-object replace). Readers resolve
``_CURRENT`` once at stream construction and keep reading their
resolved ``v=K`` dir: an in-flight reader can never see a torn model
because version payloads are never mutated, and pruning retains the
previous ``keep`` versions so an old reader finishes on its old
version (the metastore compactors' reader-grace rule).

All IO goes through the Hadoop FileSystem of the path's scheme, so one
code path serves plain local paths, ``file://`` URIs and object-store
URIs alike. Concurrent PUBLISHERS are serialised by the local
lock-file lease where one exists (``dedup_index.index_lease`` — no-op
on ``://`` paths); where the lease cannot exclude (true object-store
schemes), a FENCING TOKEN makes a publisher race DETECTED rather than
silently torn (r14 verdict #4 / ADVICE r14): the ``_CURRENT`` pointer
carries ``<version> <token>``, each version dir carries its
publisher's token in ``_PUBLISHER``, and every publisher re-reads both
immediately before AND after its pointer flip — a raced publish
aborts cleanly pre-flip (:class:`ArtifactPublishError`) or raises
loudly post-flip, and readers cross-check pointer token against dir
token at resolution. This works on any strongly-consistent single-key
store without compare-and-swap; the residual undetectable window is
two publishers' payload WRITES byte-interleaving inside the same
version dir between their adjacent token re-reads — the same
suspended-between-two-syscalls class the lease reclaim's settle
bounds, and closable only by a store-native CAS/transactional commit,
which this plain layout deliberately does not reimplement.
"""

from __future__ import annotations

import os
import uuid

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
    """Atomic single-file replace. Local schemes: write a sibling tmp
    and rename over (POSIX atomic). Object stores: one create(...,
    overwrite=True) — a single PUT, atomic per key on S3/GCS/ABFS
    (local create+overwrite would truncate-then-write, which is why
    the branch exists)."""
    fs, jvm = _fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    scheme = jpath.toUri().getScheme()
    if scheme in (None, "file"):
        local = jpath.toUri().getPath() or path
        tmp = local + ".tmp"
        os.makedirs(os.path.dirname(os.path.abspath(local)), exist_ok=True)
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, local)
        return
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def _read_pointer(spark, base: str) -> tuple[int, str | None] | None:
    """(version, fencing token) from ``_CURRENT``, or None when the
    artifact is unpublished. Pre-r15 pointers carry only the version
    number — their token reads None and the fencing checks skip."""
    ptr = base.rstrip("/") + "/" + _POINTER
    if not _exists(spark, ptr):
        return None
    parts = read_small_file(spark, ptr).decode().split()
    return int(parts[0]), (parts[1] if len(parts) > 1 else None)


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
    """Publish one new artifact version: ``writer(version_dir)`` fills a
    fresh ``v=N+1`` payload (any leftovers of a crashed previous attempt
    at that number are deleted first), the ``_CURRENT`` pointer flips in
    one single-file replace, and versions older than the newest ``keep``
    are pruned. Returns the published version number.

    Concurrent publishers are excluded by the local lock-file lease on
    local paths and FENCED everywhere (module docstring): a publish
    that loses the race raises :class:`ArtifactPublishError` — cleanly
    (pre-flip, nothing changed) when the race is caught by the
    re-reads, loudly (post-flip) when a competitor tore past them.
    Either way the caller knows; nothing is silently superseded."""
    from ..operators.dedup_index import index_lease

    if keep < 1:
        raise ValueError("keep must be >= 1 (the live version)")
    base = base.rstrip("/")
    # the lease keys on a LOCAL path: a file:// URI must not slip
    # through index_lease's "://" no-op (two local publishers would
    # race to the same version number); true object-store schemes
    # still no-op — there, refresh cadence is one scheduled task per
    # artifact by construction
    fs, jvm = _fs(spark, base)
    juri = jvm.org.apache.hadoop.fs.Path(base).toUri()
    scheme = juri.getScheme()
    lease_key = (
        (juri.getPath() or base) if scheme in (None, "file") else base
    ) + "/" + _POINTER
    with index_lease(lease_key, "publish"):
        # Fencing protocol (r14 verdict #4): works wherever the lease
        # cannot exclude (object stores). Snapshot the pointer, stake
        # the version dir with OUR token, fill the payload, then
        # re-verify BOTH the pointer (unchanged since the snapshot)
        # and the stake (still ours) immediately before the flip — a
        # raced loser aborts cleanly here. After the flip, re-read the
        # pointer and the stake once more and RAISE on mismatch: a
        # competitor that flipped over us post-verify is a torn
        # publication, and loud beats silent.
        token = uuid.uuid4().hex
        seen = _read_pointer(spark, base)
        cur = None if seen is None else seen[0]
        nxt = (cur or 0) + 1
        vdir = f"{base}/v={nxt}"
        fs, jvm = _fs(spark, base)
        jv = jvm.org.apache.hadoop.fs.Path(vdir)
        if fs.exists(jv):
            # leftovers at v=nxt are EITHER a crashed attempt (never
            # published — safe to drop) OR a concurrent publisher's
            # in-progress payload. Re-read the pointer at the last
            # moment: if it moved since the snapshot, that competitor
            # already PUBLISHED this version — deleting it would tear
            # a live artifact, so abort instead. If the pointer still
            # matches, deleting an in-progress competitor is safe for
            # correctness: its pre-flip stake re-read aborts it
            # cleanly (one winner, one clean abort — never a torn
            # pointer).
            if _read_pointer(spark, base) != seen:
                raise ArtifactPublishError(
                    f"concurrent publisher flipped {base!r}/{_POINTER} "
                    f"while this publish was starting v={nxt} — aborting "
                    "cleanly (retry publishes on top of the winner)"
                )
            fs.delete(jv, True)
        _write_small_file(spark, vdir + "/" + _PUBTOKEN, token.encode())
        writer(vdir)

        def _stake_is_ours() -> bool:
            marker = vdir + "/" + _PUBTOKEN
            return (
                _exists(spark, marker)
                and read_small_file(spark, marker).decode().strip() == token
            )

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
        _write_small_file(
            spark, base + "/" + _POINTER, f"{nxt} {token}".encode()
        )
        after = _read_pointer(spark, base)
        if after != (nxt, token) or not _stake_is_ours():
            raise ArtifactPublishError(
                f"torn publication detected at {base!r}: after flipping "
                f"{_POINTER} to v={nxt} token {token!r}, re-read found "
                f"pointer {after!r} — a concurrent publisher raced past "
                "the pre-flip checks; inspect and re-publish"
            )
        floor = nxt - keep + 1
        v = floor - 1
        while v >= 1:
            jold = jvm.org.apache.hadoop.fs.Path(f"{base}/v={v}")
            if not fs.exists(jold):
                break
            fs.delete(jold, True)
            v -= 1
        return nxt
