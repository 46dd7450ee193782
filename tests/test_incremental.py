"""Incremental (marker) semantics — gobulk's TestSimpleRunWithMarker port.

Run 1 processes a 1000-row corpus; the source then grows to 1300 rows
(prefix-stable generator); run 2 with incremental=True must process only
the 300 new rows and leave run 1's outputs untouched.
"""

from __future__ import annotations

import os
import shutil

import pytest

from gobulk_spark import lineage
from gobulk_spark.config import PipelineConfig
from gobulk_spark.corpus import generate_pairs
from gobulk_spark.pipeline import run_pipeline

OUT = "/tmp/gobulk_spark_test_out/incremental"
SRC = "/tmp/gobulk_spark_test_corpora/incremental"


def _write(n: int) -> str:
    import pyarrow.parquet as pq

    os.makedirs(SRC, exist_ok=True)
    pairs, _ = generate_pairs(n, seed=42)
    path = os.path.join(SRC, "pairs.parquet")
    pq.write_table(pairs, path)
    return path


def test_generator_prefix_stable():
    a, _ = generate_pairs(100, seed=42)
    b, _ = generate_pairs(150, seed=42)
    assert a.equals(b.slice(0, 100))


def test_incremental_processes_only_new_rows(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    shutil.rmtree(SRC, ignore_errors=True)
    path = _write(1000)
    s1 = run_pipeline(
        spark, PipelineConfig(source_path=path, out_dir=OUT, run_id="r1")
    )
    audit1 = lineage.read_audit(spark, OUT).toPandas()
    assert len(audit1) == 1000

    path = _write(1300)  # same first 1000 rows + 300 new
    s2 = run_pipeline(
        spark,
        PipelineConfig(
            source_path=path, out_dir=OUT, run_id="r2", incremental=True
        ),
    )
    audit2 = lineage.read_audit(spark, OUT).toPandas()
    assert len(audit2) == 1300
    r2 = audit2[audit2.run_id == "r2"]
    assert len(r2) == 300
    assert set(r2.image_id) == {f"img-{i:08x}" for i in range(1000, 1300)}
    # run 1 rows untouched
    r1 = audit2[audit2.run_id == "r1"].sort_values("image_id").reset_index(drop=True)
    a1 = audit1.sort_values("image_id").reset_index(drop=True)
    assert (r1["image_id"] == a1["image_id"]).all()
    assert (r1["action"] == a1["action"]).all()
    # kept table accumulates across runs
    kept = lineage.read_kept(spark, OUT).toPandas()
    assert set(kept["run"].unique()) == {"r1", "r2"}
    assert kept["image_id"].is_unique


def test_incremental_scan_retry_is_idempotent(spark):
    """Crash between the scan phase's write_audit and commit_phase, then
    retry: the marker must not be poisoned by this run's own half-written
    scan audit (which would empty the dup list and store duplicates)."""
    out = "/tmp/gobulk_spark_test_out/incremental_retry"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(SRC, ignore_errors=True)
    path = _write(1000)
    run_pipeline(spark, PipelineConfig(source_path=path, out_dir=out, run_id="r1"))

    path = _write(1300)
    cfg2 = PipelineConfig(source_path=path, out_dir=out, run_id="r2", incremental=True)
    s2 = run_pipeline(spark, cfg2)
    n_dups_r2 = s2["phases"]["scan"]["n_dups"]
    assert n_dups_r2 > 0, "precondition: new rows must contain planted duplicates"
    audit_full = lineage.read_audit(spark, out).toPandas()
    kept_full = lineage.read_kept(spark, out).toPandas()

    # simulate the crash state: r2's scan audit is on disk, nothing else
    shutil.rmtree(os.path.join(out, "_checkpoint", "r2"))
    shutil.rmtree(os.path.join(out, "_stage", "r2"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "kept", "run=r2"))
    shutil.rmtree(os.path.join(out, "audit", "wphase=store", "run=r2"))
    shutil.rmtree(os.path.join(out, "metrics", "wphase=store", "run=r2"))

    s2b = run_pipeline(spark, cfg2)
    assert s2b["phases"]["scan"]["n_dups"] == n_dups_r2, "retry found fewer dups"
    audit_retry = lineage.read_audit(spark, out).toPandas()
    kept_retry = lineage.read_kept(spark, out).toPandas()
    assert len(audit_retry) == len(audit_full)
    assert kept_retry["image_id"].is_unique
    assert sorted(kept_retry["image_id"]) == sorted(kept_full["image_id"])
    # no duplicate sneaked into kept
    dup_ids = set(
        audit_retry.loc[audit_retry["rule_fired"] == "dedup_content_hash", "image_id"]
    )
    assert not (set(kept_retry["image_id"]) & dup_ids)


def test_source_frame_built_once_per_run(spark, monkeypatch):
    """Scan and parse share one source frame: a full run reads the
    source once and an incremental run reads its changed files once, so
    each run infers the source schema (one Spark job) only once."""
    from gobulk_spark.sources import manifest as src_manifest
    from gobulk_spark.sources import scan as src_scan

    out = "/tmp/gobulk_spark_test_out/incremental_source_once"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(SRC, ignore_errors=True)
    calls = {"read_source": 0, "read_changed_files": 0}

    def _counting(name, fn):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(src_scan, "read_source", _counting("read_source", src_scan.read_source))
    monkeypatch.setattr(
        src_manifest,
        "read_changed_files",
        _counting("read_changed_files", src_manifest.read_changed_files),
    )

    path = _write(200)
    run_pipeline(spark, PipelineConfig(source_path=path, out_dir=out, run_id="r1"))
    assert calls == {"read_source": 1, "read_changed_files": 0}

    path = _write(260)
    s2 = run_pipeline(
        spark, PipelineConfig(source_path=path, out_dir=out, run_id="r2", incremental=True)
    )
    assert calls == {"read_source": 1, "read_changed_files": 1}
    assert s2["phases"]["parse"]["n_rows"] + s2["phases"]["scan"]["n_dups"] == 60
