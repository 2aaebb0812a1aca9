"""Key-value style store over a filesystem root.

The reference uses minimalkv.KeyValueStore (get/put/delete/iter_keys)
over S3/ABS/GCS/FS (/root/reference/plateau/core/dataset.py:155-191,
docs/spec/store_interface.rst). On Spark, bulk data I/O goes through the
Hadoop FileSystem connectors natively (s3a:// abfss:// gs:// file://);
this class only needs the *metadata-plane* operations: put/get small
JSON blobs, list keys under a prefix, delete keys — O(1) remote calls
per query plan, matching the reference's design goal
(docs/spec/format_specification.rst:25-26).

Implementation: local paths use the Python stdlib (fast path for tests);
any other scheme goes through the active SparkSession's Hadoop
FileSystem via the JVM gateway, so the same code runs against
object stores on a real cluster. Atomicity primitive: write-temp +
rename for the commit file (rename is atomic on HDFS/local; on S3 the
single-key put itself is atomic — same bet the reference makes).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Iterator
from urllib.parse import urlparse


class Store:
    """Metadata-plane store rooted at a directory URI."""

    def __init__(self, root: str):
        parsed = urlparse(root)
        self.scheme = parsed.scheme or "file"
        if self.scheme == "file" and parsed.path:
            self.root = parsed.path.rstrip("/")
        else:
            self.root = root.rstrip("/")
        self._is_local = self.scheme == "file"

    # -- paths ------------------------------------------------------------
    def url(self, key: str) -> str:
        """Full URI for a key — what Spark readers/writers consume."""
        if self._is_local:
            return f"file://{self.root}/{key}"
        return f"{self.root}/{key}"

    def path(self, key: str) -> str:
        if not self._is_local:
            raise ValueError(f"path() only valid for local stores, root={self.root}")
        return f"{self.root}/{key}"

    # -- small-blob ops ----------------------------------------------------
    def put_json(self, key: str, payload: dict, *, atomic: bool = True) -> None:
        data = json.dumps(payload, sort_keys=True, default=str).encode()
        if self._is_local:
            target = self.path(key)
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            if atomic:
                tmp = f"{target}.tmp-{uuid.uuid4().hex}"
                with open(tmp, "wb") as f:
                    f.write(data)
                os.replace(tmp, target)  # atomic on POSIX
            else:
                with open(target, "wb") as f:
                    f.write(data)
        else:  # pragma: no cover - object-store path, exercised on clusters
            self._hadoop_put(key, data)

    def get_json(self, key: str) -> dict:
        if self._is_local:
            with open(self.path(key), "rb") as f:
                return json.loads(f.read())
        return json.loads(self._hadoop_get(key))  # pragma: no cover

    def put_bytes(self, key: str, data: bytes) -> None:
        if self._is_local:
            target = self.path(key)
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            with open(target, "wb") as f:
                f.write(data)
        else:  # pragma: no cover
            self._hadoop_put(key, data)

    def get_bytes(self, key: str) -> bytes:
        if self._is_local:
            with open(self.path(key), "rb") as f:
                return f.read()
        return self._hadoop_get(key)  # pragma: no cover

    def exists(self, key: str) -> bool:
        if self._is_local:
            return os.path.exists(self.path(key))
        return self._hadoop_fs().exists(self._hadoop_path(key))  # pragma: no cover

    def size(self, key: str) -> int:
        """File size in bytes (one metadata stat — no data read)."""
        if self._is_local:
            return os.stat(self.path(key)).st_size
        return self._hadoop_fs().getFileStatus(  # pragma: no cover
            self._hadoop_path(key)
        ).getLen()

    def delete(self, key: str) -> None:
        if self._is_local:
            target = self.path(key)
            if os.path.isdir(target):
                shutil.rmtree(target)
            elif os.path.exists(target):
                os.remove(target)
        else:  # pragma: no cover
            self._hadoop_fs().delete(self._hadoop_path(key), True)

    def commit_lock(self, dataset_uuid: str, *, timeout: float = 30.0, stale: float = 60.0):
        """Mutual exclusion for the metadata read-merge-put critical
        section of concurrent commits (``_commit_update_with_merge``).

        The optimistic merge's conflict re-read leaves a residual
        window of one metadata round-trip; this closes it. Local/HDFS:
        an O_EXCL lock file under ``<uuid>/`` (atomic create), spun on
        with backoff and broken when older than ``stale`` seconds (a
        crashed writer must not wedge the dataset forever). Object
        stores with conditional puts (S3 If-None-Match, ABS ETag)
        should instead make ``DatasetMetadata.commit`` itself a CAS on
        the generation — the lock is the portable fallback, held for
        milliseconds (the merge + one put), never for the write job.

        The context manager YIELDS a zero-arg refresh callable: a
        LEGITIMATE long holder (GC's delete sweep is the one such
        site) must call it periodically to re-touch the lock's mtime,
        or a waiter's stale-break would unlink the lock mid-hold and
        re-open exactly the race the holder took the lock to prevent.
        Millisecond-scale holders ignore the value.
        """
        import contextlib
        import time as _time

        key = f"{dataset_uuid}/.commit.lock"

        @contextlib.contextmanager
        def _lock():
            if not self._is_local:  # pragma: no cover - cluster path
                # Hadoop create(path, overwrite=False) is atomic-exclusive
                # on HDFS; emulate the same spin
                fs, p = self._hadoop_fs(), self._hadoop_path(key)
                deadline = _time.monotonic() + timeout
                while True:
                    try:
                        fs.create(p, False).close()
                        break
                    except Exception:
                        if _time.monotonic() > deadline:
                            raise TimeoutError(f"commit lock on {dataset_uuid!r}")
                        _time.sleep(0.05)
                try:
                    # HDFS waiters have no mtime stale-break (the spin
                    # above only retries create) — refresh is a no-op
                    yield lambda: None
                finally:
                    fs.delete(p, False)
                return
            target = self.path(key)
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            deadline = _time.monotonic() + timeout
            delay = 0.005
            while True:
                try:
                    fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.close(fd)
                    break
                except FileExistsError:
                    try:  # stale-break: holder crashed mid-commit
                        if _time.time() - os.path.getmtime(target) > stale:
                            os.unlink(target)
                            continue
                    except FileNotFoundError:
                        continue  # released between open and stat — retry now
                    if _time.monotonic() > deadline:
                        raise TimeoutError(
                            f"commit lock on {dataset_uuid!r} not acquired in "
                            f"{timeout}s (holder crashed? stale-break at {stale}s)"
                        )
                    _time.sleep(delay)
                    delay = min(delay * 2, 0.1)
            def _refresh() -> None:
                try:
                    os.utime(target, None)
                except OSError:
                    pass  # lock already stale-broken; nothing to extend

            try:
                yield _refresh
            finally:
                try:
                    os.unlink(target)
                except FileNotFoundError:
                    pass  # stale-broken by a waiter after we overran

        return _lock()

    def move(self, src_key: str, dst_key: str) -> None:
        """Rename a file within the store (atomic on POSIX/HDFS; a
        copy+delete on S3 — same cost profile as the reference's
        per-file puts)."""
        if self._is_local:
            target = self.path(dst_key)
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            os.replace(self.path(src_key), target)
        else:  # pragma: no cover
            fs = self._hadoop_fs()
            dst = self._hadoop_path(dst_key)
            fs.mkdirs(dst.getParent())
            if not fs.rename(self._hadoop_path(src_key), dst):
                raise IOError(f"rename {src_key} -> {dst_key} failed")

    def read_parquet(self, key: str, filters=None, columns=None):
        """Read a parquet file/directory under ``key`` into a pyarrow
        Table through the store abstraction — works on object stores
        where pyarrow can't open ``s3a://`` URIs directly (metadata
        plane only: index files, footers — never bulk data).

        ``filters`` is a pyarrow.compute expression; on the local fast
        path it prunes row groups at read time, elsewhere it's applied
        post-read (index files are small single files by design).
        ``columns`` projection-prunes the read.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._is_local:
            return pq.read_table(self.path(key), filters=filters, columns=columns)
        # object store: fetch member files via Hadoop FS, filter after
        keys = [
            k
            for k in self.iter_keys(key)
            if k.endswith(".parquet") or k == key
        ] or [key]
        tables = [
            pq.read_table(
                pa.BufferReader(self._hadoop_get(k)), columns=columns
            )
            for k in keys
        ]  # pragma: no cover
        table = pa.concat_tables(tables)  # pragma: no cover
        if filters is not None:  # pragma: no cover
            table = table.filter(filters)
        return table  # pragma: no cover

    def parquet_schema(self, key: str):
        """Arrow schema of the parquet file at ``key`` (footer only on
        the local fast path). Used by the driver-tier sidecar builders
        to decide whether a column is genuinely absent from a file
        (schema evolution) rather than parsing pyarrow error strings,
        whose wording is not a stable contract."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._is_local:
            return pq.ParquetFile(self.path(key)).schema_arrow
        return pq.ParquetFile(  # pragma: no cover
            pa.BufferReader(self._hadoop_get(key))
        ).schema_arrow

    def iter_keys(self, prefix: str = "") -> Iterator[str]:
        """All keys (files) whose relative path starts with ``prefix``,
        sorted. The local walk starts at the prefix's directory and only
        descends into directories that can hold a match, so listing one
        dataset's staging prefix costs O(its files), not O(store)."""
        if self._is_local:
            top = prefix if prefix.endswith("/") else os.path.dirname(prefix)
            if not os.path.isdir(os.path.join(self.root, top)):
                return
            keys = []
            for dirpath, dirnames, filenames in os.walk(os.path.join(self.root, top)):
                rel_dir = os.path.relpath(dirpath, self.root)
                rel_dir = "" if rel_dir == "." else rel_dir + "/"
                dirnames[:] = [
                    d for d in dirnames
                    if (rel_dir + d + "/").startswith(prefix)
                    or prefix.startswith(rel_dir + d + "/")
                ]
                keys.extend(
                    rel_dir + fn for fn in filenames if (rel_dir + fn).startswith(prefix)
                )
            yield from sorted(keys)
            return
        yield from self._hadoop_iter(prefix)  # pragma: no cover

    # -- hadoop plumbing (non-local schemes) --------------------------------
    def _hadoop_fs(self):  # pragma: no cover
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm = spark._jvm
        juri = jvm.java.net.URI(self.root)
        conf = spark._jsc.hadoopConfiguration()
        return jvm.org.apache.hadoop.fs.FileSystem.get(juri, conf)

    def _hadoop_path(self, key: str):  # pragma: no cover
        from pyspark.sql import SparkSession

        jvm = SparkSession.getActiveSession()._jvm
        return jvm.org.apache.hadoop.fs.Path(f"{self.root}/{key}")

    def _hadoop_put(self, key: str, data: bytes) -> None:  # pragma: no cover
        fs = self._hadoop_fs()
        out = fs.create(self._hadoop_path(key), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def _hadoop_get(self, key: str) -> bytes:  # pragma: no cover
        fs = self._hadoop_fs()
        stream = fs.open(self._hadoop_path(key))
        try:
            from pyspark.sql import SparkSession

            jvm = SparkSession.getActiveSession()._jvm
            return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def _hadoop_iter(self, prefix: str):  # pragma: no cover
        fs = self._hadoop_fs()
        it = fs.listFiles(self._hadoop_path(prefix) if prefix else self._hadoop_path(""), True)
        root_len = len(self.root.rstrip("/")) + 1
        while it.hasNext():
            status = it.next()
            yield str(status.getPath().toString())[root_len:]
