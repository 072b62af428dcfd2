"""Object storage abstraction.

The engine's only storage dependency is a 3-method interface — mirror of
the reference's ``ObjectStorage`` (reference objectstorage/objectstorage.go:3-8):

- ``put_if_absent(name, bytes)`` — atomic create-if-not-exists. This is
  the ONLY concurrency-control primitive in the whole engine: commits are
  a single put_if_absent of the versioned log file.
- ``list_prefix_ordered(prefix)`` — names ascending lexicographically
  (the log replay relies on this ordering contract).
- ``read(name)`` -> bytes.

The local-FS implementation reproduces the reference's atomicity trick
(reference objectstorage/localobjectstorage.go:22-66): write a temp file,
fsync it, then hard-link it to the final name — link(2) fails with EEXIST
if the target exists, giving atomic put-if-absent on POSIX filesystems.
On real object stores (S3 conditional PUT `If-None-Match: *`, GCS
`ifGenerationMatch=0`, ADLS ETag) the same interface maps to native
conditional writes, so the engine is cluster-ready by swapping this class.
"""

from __future__ import annotations

import os
import shutil
import uuid
from abc import ABC, abstractmethod
from typing import Optional

from delta_lake_experiment_spark.errors import ObjectExistsError


class BucketScanArea(ABC):
    """One ``scan_bucketed`` registration's file namespace.

    Spark only trusts a pre-bucketed layout when it comes from a
    catalog table whose files carry the ``_NNNNN`` bucket-id name
    suffix, so a bucket-aware scan must expose the live data objects
    under new names in one listable location. The area abstracts how a
    backend does that without moving data through the driver:

    - local FS: a directory of hard links (O(files) metadata, zero
      copy);
    - S3: a key prefix of server-side ``CopyObject`` copies (O(files)
      metadata *requests*; S3 copies the bytes internally — nothing
      flows through the driver or executors).

    ``uri`` is the Spark-readable table LOCATION; ``link`` exposes one
    object under the area; ``drop`` removes the whole area when a new
    registration supersedes it."""

    uri: str

    @abstractmethod
    def link(self, src_name: str, filename: str) -> None:
        """Expose object ``src_name`` as ``<area>/<filename>``."""

    @abstractmethod
    def drop(self) -> None:
        """Remove the area and everything linked into it."""


class ObjectStorage(ABC):
    """Minimal storage interface; see module docstring."""

    def begin_bucket_scan_area(self) -> Optional[BucketScanArea]:
        """Open a :class:`BucketScanArea`, or None when the backend
        cannot expose Spark-readable per-file names (e.g. the
        in-memory test double)."""
        return None

    @abstractmethod
    def put_if_absent(self, name: str, data: bytes) -> None:
        """Atomically create ``name`` with ``data``; raise
        :class:`ObjectExistsError` if it already exists."""

    @abstractmethod
    def list_prefix_ordered(
        self, prefix: str, start_after: Optional[str] = None
    ) -> list[str]:
        """All object names starting with ``prefix``, ascending.

        ``start_after`` (exclusive) anchors the listing past a known
        name — S3's native ``StartAfter`` — so log replay and stream
        triggers list O(tail since checkpoint/position) keys instead of
        the full ``_log_`` prefix (O(total commits) pages at streaming
        cadence; the metadata scale-killer on a 10⁶-commit log)."""

    @abstractmethod
    def read(self, name: str) -> bytes:
        """Read the full contents of ``name``."""

    @abstractmethod
    def path_of(self, name: str) -> str:
        """A URI/path Spark can read the object from directly.

        Spark-native extension: scans hand Spark the object *paths* so the
        vectorized Parquet reader pulls data straight from storage instead
        of routing bytes through the driver."""

    @abstractmethod
    def delete(self, name: str) -> None:
        """Remove an object (best-effort; missing object is not an
        error). Used by VACUUM, and by ``commit_tx`` to take back a log
        record that landed in a slot ``vacuum_log`` freed (below the
        newest checkpoint, so no reader would see it). The commit
        protocol's atomicity still rests solely on put_if_absent."""

    def put(self, name: str, data: bytes) -> None:
        """Overwrite ``name`` with ``data`` (create if missing).
        ADVISORY data only — the ``_last_checkpoint`` pointer, which
        readers treat as a hint (stale/missing pointers only cost a
        wider listing, never correctness). Never part of the commit
        protocol. Default: best-effort delete + put_if_absent; real
        backends override with a native overwrite (S3 PUT, local
        atomic rename)."""
        self.delete(name)
        try:
            self.put_if_absent(name, data)
        except ObjectExistsError:
            pass  # racing advisory writers: either copy is fine

    def put_file_if_absent(self, name: str, src_path: str) -> None:
        """put_if_absent from a local file. Default implementation
        round-trips the bytes through memory; implementations override
        with a zero-copy move (hard link locally, multipart upload on
        object stores) so bulk ingest never re-reads what Spark just
        wrote."""
        with open(src_path, "rb") as f:
            self.put_if_absent(name, f.read())

    def mtime(self, name: str) -> "float | None":
        """Last-modified time of ``name`` as a Unix timestamp, or None
        when unknown/missing. Advisory metadata used only by VACUUM's
        age guard — never by the commit protocol."""
        return None

    def size(self, name: str) -> "int | None":
        """Object size in bytes, or None when unknown/missing.
        Advisory metadata used by VACUUM's dry-run report."""
        return None

    def exists(self, name: str) -> "bool | None":
        """Whether ``name`` exists, or None when the backend cannot
        answer cheaply (callers must then assume it might). Used by
        planning-time guards (e.g. the streaming source's
        VACUUM-reclaimed check) and by ``commit_tx``'s after-put probe
        for a truncated predecessor; None there counts as present."""
        return None


class MemoryObjectStorage(ObjectStorage):
    """In-memory object storage — interface demo + unit-test double.

    NOT usable with Spark scans (``path_of`` has no real path), so it
    serves the metadata layer only: log records, checkpoints, OCC
    semantics. It demonstrates that the commit protocol needs nothing
    from storage beyond atomic create-if-absent + ordered listing —
    the exact contract S3 conditional PUT / GCS ifGenerationMatch
    provide."""

    def __init__(self) -> None:
        self._objects: dict[str, bytes] = {}

    def put_if_absent(self, name: str, data: bytes) -> None:
        if name in self._objects:
            raise ObjectExistsError(name)
        self._objects[name] = data

    def list_prefix_ordered(
        self, prefix: str, start_after: Optional[str] = None
    ) -> list[str]:
        return sorted(
            n
            for n in self._objects
            if n.startswith(prefix) and (start_after is None or n > start_after)
        )

    def put(self, name: str, data: bytes) -> None:
        self._objects[name] = data

    def read(self, name: str) -> bytes:
        return self._objects[name]

    def path_of(self, name: str) -> str:
        raise NotImplementedError("MemoryObjectStorage holds no Spark-readable paths")

    def exists(self, name: str) -> bool:
        return name in self._objects

    def delete(self, name: str) -> None:
        self._objects.pop(name, None)

    def size(self, name: str) -> "int | None":
        data = self._objects.get(name)
        return len(data) if data is not None else None


class LocalObjectStorage(ObjectStorage):
    """Local-filesystem object storage with atomic put-if-absent."""

    def __init__(self, root: str) -> None:
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self._tmpdir = os.path.join(self.root, ".tmp")
        os.makedirs(self._tmpdir, exist_ok=True)

    def put_if_absent(self, name: str, data: bytes) -> None:
        final = self._safe_path(name)
        tmp = os.path.join(self._tmpdir, f"tmp_{uuid.uuid4().hex}")
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            try:
                # Hard link fails with EEXIST if `final` exists: atomic
                # put-if-absent, same trick as the reference
                # (localobjectstorage.go:57-63).
                os.link(tmp, final)
            except FileExistsError:
                raise ObjectExistsError(name)
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def list_prefix_ordered(
        self, prefix: str, start_after: Optional[str] = None
    ) -> list[str]:
        # os.listdir is unordered, so the anchored form still walks the
        # directory once — the contract (and the win) is for object
        # stores, where start_after skips LIST pages server-side; local
        # directories stay OS-page-cached and cheap at test scale.
        names = [
            n
            for n in os.listdir(self.root)
            if n.startswith(prefix)
            and n != ".tmp"
            and (start_after is None or n > start_after)
        ]
        names.sort()
        return names

    def put(self, name: str, data: bytes) -> None:
        """Atomic overwrite via rename (advisory pointer writes)."""
        final = self._safe_path(name)
        tmp = os.path.join(self._tmpdir, f"tmp_{uuid.uuid4().hex}")
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        with os.fdopen(fd, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)

    def read(self, name: str) -> bytes:
        with open(self._safe_path(name), "rb") as f:
            return f.read()

    def path_of(self, name: str) -> str:
        return self._safe_path(name)

    def delete(self, name: str) -> None:
        try:
            os.unlink(self._safe_path(name))
        except FileNotFoundError:
            pass

    def mtime(self, name: str) -> "float | None":
        try:
            return os.path.getmtime(self._safe_path(name))
        except FileNotFoundError:
            return None

    def size(self, name: str) -> "int | None":
        try:
            return os.path.getsize(self._safe_path(name))
        except FileNotFoundError:
            return None

    def exists(self, name: str) -> bool:
        return os.path.exists(self._safe_path(name))

    def begin_bucket_scan_area(self) -> Optional[BucketScanArea]:
        return LocalBucketScanArea(self)

    def put_file_if_absent(self, name: str, src_path: str) -> None:
        """Zero-copy ingest: fsync the staged file, then hard-link it to
        the final name — the same atomic EEXIST gate as put_if_absent,
        without reading the bytes back through the driver."""
        final = self._safe_path(name)
        fd = os.open(src_path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(src_path, final)
        except FileExistsError:
            raise ObjectExistsError(name)
        except OSError:
            # cross-device staging (e.g. /tmp on tmpfs): fall back to copy
            with open(src_path, "rb") as f:
                self.put_if_absent(name, f.read())

    def _safe_path(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid object name: {name!r}")
        return os.path.join(self.root, name)


class LocalBucketScanArea(BucketScanArea):
    """Bucket-scan area on local FS: a directory of hard links under
    the store root. Links pin the exact live file set (snapshot
    isolation across a concurrent VACUUM) at zero data cost."""

    def __init__(self, store: LocalObjectStorage) -> None:
        self.store = store
        self.dir = os.path.join(store.root, f"bucketscan_{uuid.uuid4().hex}")
        os.makedirs(self.dir)
        self.uri = self.dir

    def link(self, src_name: str, filename: str) -> None:
        os.link(self.store.path_of(src_name), os.path.join(self.dir, filename))

    def drop(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
