"""Storage backend — the collection lifecycle's filesystem interface.

The query paths are pure Spark reads (any URI Spark supports), but the
collection *lifecycle* — snapshot swap, manifest, vacuum, byte
accounting — needs a handful of metadata operations. Routing them
through this interface is what makes the lifecycle portable off a local
disk (reference keeps the same split: segment IO behind io-uring vs.
manifest bookkeeping, SURVEY §3.3 manifest + recovery).

Two implementations:
- `LocalStorage` — os/shutil; the default for `file:`-less paths.
- `HadoopStorage` — the Hadoop FileSystem API reached through the
  session JVM (`sc._jvm`), which is exactly how Spark itself resolves
  paths; works for any scheme the cluster has a connector for
  (hdfs://, s3a://, gs://, abfs://...). No extra Python deps.

Atomicity contract used by VectorCollection:
- `write_text_atomic` = write temp + rename, so a manifest/pointer file
  is never observed half-written;
- `rename` of a directory is atomic on both POSIX and HDFS (object
  stores emulate it; the pointer-file scheme in collection.compact()
  never *requires* replace-rename — the destination never pre-exists).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterator


class LocalStorage:
    """os/shutil implementation for plain local paths."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def remove(self, path: str) -> None:
        os.remove(path)

    def walk_files(self, root: str) -> Iterator[str]:
        for r, _dirs, files in os.walk(root):
            for f in files:
                yield os.path.join(r, f)

    def walk_files_with_size(self, root: str) -> Iterator[tuple[str, int]]:
        """One recursive listing yielding (path, size) — sizes come from
        the directory entries themselves (scandir stat), not a second
        per-file metadata call."""
        stack = [root]
        while stack:
            d = stack.pop()
            if not os.path.isdir(d):
                continue
            with os.scandir(d) as it:
                for e in it:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    else:
                        yield e.path, e.stat(follow_symlinks=False).st_size

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def list_dirs(self, root: str) -> list[str]:
        if not os.path.isdir(root):
            return []
        return sorted(
            os.path.join(root, n)
            for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n))
        )

    def cleanup_dirs(self, root: str, prefixes: tuple[str, ...], keep: set[str]) -> int:
        """Remove `root`'s child dirs starting with any of `prefixes`
        not in `keep` (superseded generations / crashed half-written
        dirs). Returns the number removed."""
        removed = 0
        if not os.path.isdir(root):
            return 0
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if name.startswith(prefixes) and name not in keep and os.path.isdir(p):
                self.rmtree(p)
                removed += 1
        return removed

    def lock_acquire(self, path: str):
        """Advisory exclusive lock for manifest writers (ADVICE r11
        medium): flock on a sidecar lock file serializes read-modify-
        write of the manifest across PROCESSES on the same host (e.g.
        a bench process beside a pytest run on one dev box). The
        in-process thread lock in VectorCollection wraps this, so only
        the outermost acquisition pays the syscall. Returns an opaque
        token for lock_release."""
        import fcntl

        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        fcntl.flock(fd, fcntl.LOCK_EX)
        return fd

    def lock_release(self, token) -> None:
        import fcntl

        fcntl.flock(token, fcntl.LOCK_UN)
        os.close(token)


class HadoopStorage:
    """Hadoop FileSystem API via the Spark session's JVM — the 100 TB
    path: identical lifecycle code against hdfs:// / s3a:// / gs://.

    Only metadata-size operations cross the Py4J bridge (status, rename,
    delete, ≤KB manifest reads) — data always moves through Spark jobs.
    """

    def __init__(self, spark, base_uri: str):
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._fs = jvm.org.apache.hadoop.fs.Path(base_uri).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename {src} -> {dst} failed")

    def rmtree(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def remove(self, path: str) -> None:
        self._fs.delete(self._p(path), False)

    def walk_files(self, root: str) -> Iterator[str]:
        if not self.exists(root):
            return
        it = self._fs.listFiles(self._p(root), True)  # recursive
        while it.hasNext():
            yield it.next().getPath().toString()

    def walk_files_with_size(self, root: str) -> Iterator[tuple[str, int]]:
        """listFiles returns LocatedFileStatus — length rides along with
        the listing, so byte accounting is one RPC stream, not one
        getFileStatus round-trip per file."""
        if not self.exists(root):
            return
        it = self._fs.listFiles(self._p(root), True)
        while it.hasNext():
            s = it.next()
            yield s.getPath().toString(), s.getLen()

    def getsize(self, path: str) -> int:
        return self._fs.getFileStatus(self._p(path)).getLen()

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            # readAllBytes (Java 9+) — a Py4J-side read(buf) would fill a
            # COPY of the buffer (byte[] crosses the bridge by value)
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        stream = self._fs.create(self._p(tmp), True)
        try:
            stream.write(bytearray(data.encode("utf-8")))
            stream.hflush()
        finally:
            stream.close()
        # Rename WITH overwrite (FileContext.rename(OVERWRITE)): plain
        # FileSystem.rename won't replace, and the old delete→rename
        # dance left a window where a concurrent reader saw NO manifest
        # at all — readers race the generation swap as of round 11, so
        # the replace must be a single metadata op. Falls back to the
        # gapped form only on filesystems without a FileContext
        # implementation (local file:/ and hdfs:// both have one).
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._fs.getUri(), self._conf
            )
            ren = getattr(self._jvm, "org.apache.hadoop.fs.Options$Rename")
            opts = self._gateway.new_array(ren, 1)
            opts[0] = ren.OVERWRITE
            fc.rename(self._p(tmp), self._p(path), opts)
        except Exception:  # noqa: BLE001 — no FileContext impl for scheme
            self._fs.delete(self._p(path), False)
            self.rename(tmp, path)

    def list_dirs(self, root: str) -> list[str]:
        if not self.exists(root):
            return []
        return sorted(
            s.getPath().toString()
            for s in self._fs.listStatus(self._p(root))
            if s.isDirectory()
        )

    def cleanup_dirs(self, root: str, prefixes: tuple[str, ...], keep: set[str]) -> int:
        removed = 0
        if not self.exists(root):
            return 0
        for status in self._fs.listStatus(self._p(root)):
            name = str(status.getPath().getName())
            if (
                name.startswith(prefixes)
                and name not in keep
                and status.isDirectory()
            ):
                self._fs.delete(status.getPath(), True)
                removed += 1
        return removed

    def lock_acquire(self, path: str):
        """No cross-process lease on remote stores: HDFS/S3 offer no
        portable flock analog, and manifest WRITERS are driver-side by
        contract (a collection has one maintenance owner — the same
        single-writer discipline table formats without a lock service
        assume). VectorCollection's in-process thread lock still
        serializes every writer within that driver; this hook exists so
        the local backend can additionally serialize across processes."""
        return None

    def lock_release(self, token) -> None:
        pass


def storage_for(spark, path: str):
    """Pick a backend from the path scheme: URIs with a scheme go through
    Hadoop (what Spark itself will read/write); bare paths stay local."""
    if "://" in path:
        return HadoopStorage(spark, path)
    return LocalStorage()
