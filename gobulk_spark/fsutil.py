"""Filesystem access through the Hadoop FileSystem API.

Checkpoint manifests and kept-table directory swaps must work when
``out_dir`` is an object store (s3a://, gs://, hdfs://) on a real
cluster, not just the driver's local disk — so every metadata
operation routes through ``org.apache.hadoop.fs.FileSystem`` obtained
from the active SparkSession's Hadoop configuration. On local paths
this resolves to the local FS, so one code path is exercised by the
test suite and deployed unchanged.

gobulk analogue: the tracker's storage backend (tracker/gorm.go) —
here the "database" is a filesystem with atomic rename as the commit
primitive.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


class Fs:
    """Thin wrapper over one Hadoop FileSystem (resolved per path URI)."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        jsc = spark._jsc
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = jsc.hadoopConfiguration()
        self._path_cls = jvm.org.apache.hadoop.fs.Path
        self._fs = self._path_cls(path).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._path_cls(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def listdir(self, path: str) -> list[str]:
        """Child basenames of a directory ([] if it does not exist)."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), True)  # recursive

    def size(self, path: str) -> int:
        """File length in bytes (0 if absent)."""
        p = self._p(path)
        if not self._fs.exists(p):
            return 0
        return int(self._fs.getFileStatus(p).getLen())

    def listdir_sizes(self, path: str) -> dict[str, int]:
        """Child basename -> byte length, from ONE listStatus call
        ({} if the directory does not exist) — callers that need both
        names and sizes must not pay a per-file getFileStatus RPC."""
        p = self._p(path)
        if not self._fs.exists(p):
            return {}
        return {
            st.getPath().getName(): int(st.getLen())
            for st in self._fs.listStatus(p)
        }

    def mtime(self, path: str) -> float:
        """Modification time in epoch seconds (0.0 if absent)."""
        p = self._p(path)
        if not self._fs.exists(p):
            return 0.0
        return self._fs.getFileStatus(p).getModificationTime() / 1000.0

    def rename(self, src: str, dst: str) -> bool:
        """Atomic-on-HDFS/local rename; returns False if dst exists."""
        return bool(self._fs.rename(self._p(src), self._p(dst)))

    def read_text(self, path: str) -> str:
        # py4j copies byte[] args, so a fill-the-buffer read loop can't
        # work from Python — delegate the drain to commons-io (ships
        # with Hadoop)
        stream = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def rename_overwrite(self, src: str, dst: str) -> bool:
        """Single-operation rename that REPLACES dst, via the
        FileContext API (local/HDFS support Options.Rename.OVERWRITE).
        Returns False where the store lacks it — callers fall back to
        delete-then-rename and accept that window."""
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._p(dst).toUri(), self._conf
            )
            rename_opt = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(rename_opt, 1)
            opts[0] = rename_opt.OVERWRITE
            fc.rename(self._p(src), self._p(dst), opts)
            return True
        except Exception:
            return False

    def write_text_atomic(self, path: str, text: str) -> None:
        """tmp-then-rename write: readers see the old or the new file,
        never a torn one (the checkpoint / marker-pointer commit flip).

        The replace is ONE FileContext rename-with-overwrite wherever
        the store supports it — plain FileSystem.rename refuses to
        clobber, and delete-then-rename leaves a window where the
        pointer file is ABSENT (a crash there would make the marker
        read as empty and the next incremental run re-process every
        row). The two-step form survives only as the fallback for
        stores without FileContext overwrite."""
        parent = path.rsplit("/", 1)[0]
        self.mkdirs(parent)
        tmp = f"{path}.tmp"
        stream = self._fs.create(self._p(tmp), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        if self.rename_overwrite(tmp, path):
            return
        if self.exists(path):
            self.delete(path)
        if not self.rename(tmp, path):
            raise OSError(f"atomic write failed: rename {tmp} -> {path}")

    def read_pointer(self, path: str, exclude_run_id: str | None = None) -> dict | None:
        """The state a run-stamped pointer (``commit_pointer``) shows a
        reader: None when there is no pointer; its ``prev`` when the
        pointer belongs to ``exclude_run_id`` — a torn run being retried
        sees exactly the committed state its first attempt saw; else
        the pointer itself (its state plus ``run_id`` and ``prev``)."""
        if not self.exists(path):
            return None
        ptr = json.loads(self.read_text(path))
        if exclude_run_id is not None and ptr["run_id"] == exclude_run_id:
            return ptr.get("prev")
        return ptr

    def commit_pointer(self, path: str, run_id: str, state: dict) -> dict:
        """Atomically point ``path`` at run ``run_id``'s ``state``,
        keeping the predecessor state as ``prev``. A re-commit by the
        same run keeps the ORIGINAL predecessor (its state read with
        this run excluded), so a retry can never make its own torn
        state the baseline. The one torn-retry rule of the marker and
        the source file manifest."""
        prev = self.read_pointer(path, exclude_run_id=run_id)
        if prev is not None:
            prev = {k: v for k, v in prev.items() if k not in ("run_id", "prev")}
        ptr = {"run_id": run_id, **state, "prev": prev}
        self.write_text_atomic(path, json.dumps(ptr))
        return ptr

    def replace_dir(self, staged: str, dst: str, backup: str) -> None:
        """Swap ``staged`` into ``dst`` with crash recovery.

        Protocol: rename dst -> backup, rename staged -> dst, delete
        backup. ``recover_replace_dir`` (called before re-staging on a
        retry) heals every crash window:
        - crash before first rename: nothing moved, retry re-stages;
        - crash between renames: dst missing + backup present -> restore
          backup, retry re-stages;
        - crash after second rename: dst present + backup present ->
          swap already happened, drop the stale backup.
        """
        if self.exists(backup):
            self.delete(backup)
        if self.exists(dst) and not self.rename(dst, backup):
            raise OSError(f"replace_dir: cannot move {dst} aside")
        if not self.rename(staged, dst):
            raise OSError(f"replace_dir: cannot move {staged} into place")
        if self.exists(backup):
            self.delete(backup)

    def recover_replace_dir(self, dst: str, backup: str) -> None:
        if self.exists(backup):
            if self.exists(dst):
                self.delete(backup)  # swap completed; stale backup
            else:
                if not self.rename(backup, dst):  # swap half-done; restore
                    raise OSError(f"recover: cannot restore {backup} -> {dst}")
