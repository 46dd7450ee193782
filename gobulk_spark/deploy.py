"""Make this package importable, and cheap to import, on executors.

UDF closures reference gobulk_spark modules by name, so executor
Python workers must import the package. Under spark-submit that's the
--py-files zip (jobs/package.py); but a library user calling
run_pipeline() from an arbitrary cwd (notebook, orchestrator) gets
ModuleNotFoundError on the FIRST task unless the driver ships the
code itself — found live during verification. ship() zips this
package's own directory and addPyFile's it, once per application,
under ``tempfile.gettempdir()`` (so ``TMPDIR`` moves it).

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task, and on CPython 3.11 each ``zipimporter`` then
re-reads its archive's whole central directory: a dozen importers on
pyspark.zip, two on the spark-core jar (which Spark puts on the worker
path), py4j and the package zip — a median 0.17 s of worker CPU per
task on a 4-CPU host. gate_zip_invalidation(), installed when the
package is imported (so by the first UDF unpickle in each reused
worker), lets an importer re-read only an archive that changed on disk
since its last read.
"""

from __future__ import annotations

import functools
import os
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def gate_zip_invalidation() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (once per process) so an
    importer re-reads its archive's directory only when the archive's
    ``(st_mtime_ns, st_size)`` differs from the stamp taken at its last
    re-read. An importer without a stamp and a missing archive always
    reach the original (which empties the table of a missing one). The
    stamp is taken before the read, so a rewrite racing the read shows
    up as a changed stamp next time."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            original(self)
            self._read_stamp = stamp

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def package_payload(pkg_dir: str | None = None) -> list[tuple[str, str]]:
    """Sorted (abs_path, arcname) for every package .py file — the ONE
    packaging rule, shared by the runtime self-ship below and the
    spark-submit builder (jobs/package.py). Two hand-synced walkers
    would eventually ship different code to executors depending on the
    deployment path."""
    pkg_dir = pkg_dir or os.path.dirname(os.path.abspath(__file__))
    payload = []
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                payload.append(
                    (full, os.path.relpath(full, os.path.dirname(pkg_dir)))
                )
    return payload


def write_zip(payload: list[tuple[str, str]], out_path: str) -> str:
    """Zip the payload with a per-pid tmp + atomic replace (concurrent
    drivers share the target path; a half-written zip must never be
    addPyFile'd)."""
    tmp = f"{out_path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for full, rel in payload:
            z.write(full, rel)
    os.replace(tmp, out_path)
    return out_path


def ship(spark: SparkSession) -> None:
    """Idempotently distribute gobulk_spark to executor workers.

    No-op when the package is already distributed — e.g. spark-submit
    --py-files gobulk_spark.zip (re-adding a same-named file with
    different bytes is a hard SparkException, found live under
    spark-submit). The runtime zip carries a content-hash name so
    repeated ships of identical code are also same-file adds.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    if any("gobulk_spark" in os.path.basename(f) for f in sc.listFiles):
        _SHIPPED.add(key)  # --py-files (or an earlier ship) already did it
        return
    import hashlib

    payload = package_payload()
    h = hashlib.md5()
    for full, rel in payload:  # path + content: renames change the digest
        h.update(rel.encode())
        h.update(b"\0")
        h.update(open(full, "rb").read())
    digest = h.hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), "gobulk_spark_pyfiles")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"gobulk_spark-{digest}.zip")
    if not os.path.exists(out_path):
        write_zip(payload, out_path)
    sc.addPyFile(out_path)
    _SHIPPED.add(key)
