"""Round-3 scale economics: file-level change pruning + compacted marker.

The two round-2 scale weaknesses, pinned by tests:
1. incremental runs re-hashed the ENTIRE corpus (gobulk reads ETag from
   the listing, input/s3.go:203-205) — now a per-file (length, mtime)
   manifest prunes unchanged files before any byte is read, and the
   scan commit records how many files/bytes were actually scanned;
2. the marker was a groupBy over the FULL audit history — now a
   compacted snapshot advanced atomically at store commit, O(ids) per
   read. The audit is never read to rebuild it.

Both the marker's ``LATEST`` and the manifest are run-stamped pointers
(``Fs.commit_pointer``) that keep the pre-run state as ``prev``: a torn
run being retried reads and re-derives from exactly the state its first
attempt saw.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gobulk_spark import lineage
from gobulk_spark.config import PipelineConfig
from gobulk_spark.corpus import generate_pairs
from gobulk_spark.pipeline import run_pipeline
from gobulk_spark.sources import manifest as src_manifest

BASE = "/tmp/gobulk_spark_test_out/manifest_marker"
SRC = os.path.join(BASE, "src")
N_FILES = 8


def _write_sharded(n: int, mutate_shard: int | None = None) -> str:
    """n-row corpus split over N_FILES parquet files by row index.

    ``mutate_shard`` rewrites ONLY that shard with suffixed captions
    (changed content, same ids) — the other files keep their original
    bytes and mtimes, exactly the partial-update shape the manifest
    prunes."""
    os.makedirs(SRC, exist_ok=True)
    pairs, _ = generate_pairs(n, seed=42)
    df = pairs.to_pandas()
    shards = range(N_FILES) if mutate_shard is None else [mutate_shard]
    for s in shards:
        part = df.iloc[s::N_FILES].reset_index(drop=True)
        if s == mutate_shard:
            part["caption"] = part["caption"] + " updated with fresh words"
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(SRC, f"part-{s}.parquet"),
        )
    return SRC


def test_incremental_scan_reads_only_changed_files(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    _write_sharded(800)
    out = os.path.join(BASE, "out1")
    s1 = run_pipeline(
        spark, PipelineConfig(source_path=SRC, out_dir=out, run_id="r1")
    )
    st1 = s1["phases"]["scan"]
    assert st1["source_files_total"] == N_FILES
    assert st1["source_files_scanned"] == N_FILES  # no baseline yet

    # mutate ONE shard; incremental run must read exactly that file
    _write_sharded(800, mutate_shard=3)
    s2 = run_pipeline(
        spark,
        PipelineConfig(
            source_path=SRC, out_dir=out, run_id="r2", incremental=True
        ),
    )
    st2 = s2["phases"]["scan"]
    assert st2["source_files_total"] == N_FILES
    assert st2["source_files_scanned"] == 1
    assert st2["source_bytes_scanned"] < st1["source_bytes_total"] / 4
    # and the changed shard's rows re-entered as updates/deletes while
    # nothing else was touched
    audit = lineage.read_audit(spark, out).toPandas()
    r2 = audit[audit.run_id == "r2"]
    assert len(r2) == 100  # one shard of 800 over 8 files
    assert set(r2.action) <= {"update", "delete", "create", "omit", "issue"}
    kept = lineage.read_kept(spark, out).toPandas()
    assert kept["image_id"].is_unique


def test_unchanged_source_incremental_run_scans_zero_files(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    _write_sharded(400)
    out = os.path.join(BASE, "out2")
    run_pipeline(spark, PipelineConfig(source_path=SRC, out_dir=out, run_id="r1"))
    s2 = run_pipeline(
        spark,
        PipelineConfig(
            source_path=SRC, out_dir=out, run_id="r2", incremental=True
        ),
    )
    st = s2["phases"]["scan"]
    assert st["source_files_scanned"] == 0
    assert st["source_bytes_scanned"] == 0
    assert s2["phases"]["store"]["rows_in"] == 0
    kept = lineage.read_kept(spark, out).toPandas()
    assert set(kept["run"].unique()) == {"r1"}


def test_marker_snapshot_advances_and_gcs(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    _write_sharded(400)
    out = os.path.join(BASE, "out3")
    for i, shard in ((1, None), (2, 2), (3, 5)):
        if shard is not None:
            _write_sharded(400, mutate_shard=shard)
        run_pipeline(
            spark,
            PipelineConfig(
                source_path=SRC,
                out_dir=out,
                run_id=f"r{i}",
                incremental=i > 1,
            ),
        )
    root = os.path.join(out, "_marker")
    latest = json.loads(open(os.path.join(root, "LATEST")).read())
    assert latest["run_id"] == "r3"
    snaps = [d for d in os.listdir(root) if d.startswith("snap-")]
    # GC keeps only the latest + its predecessor, regardless of run count
    assert sorted(snaps) == sorted([latest["path"], latest["prev"]["path"]])
    # the snapshot IS the marker: latest hash per id, one row per id
    snap = spark.read.parquet(os.path.join(root, latest["path"])).toPandas()
    assert snap["image_id"].is_unique
    assert len(snap) == 400
    # O(ids) read path: processed_keys must not touch the audit log
    marker = lineage.processed_keys(spark, out)
    files = {
        r["source_file"]
        for r in marker.withColumn("source_file", F.input_file_name())
        .select("source_file")
        .distinct()
        .collect()
    }
    assert all("_marker" in f for f in files)
    assert not any("audit" in f for f in files)


def test_manifest_torn_retry_uses_predecessor(spark):
    """commit_manifest by the same run twice preserves the original
    baseline (the manifest analogue of the marker's prev snapshot)."""
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    out = os.path.join(BASE, "out5")
    f1 = [{"path": "a", "length": 1, "mtime": 1}]
    f2 = [{"path": "a", "length": 2, "mtime": 2}]
    f3 = [{"path": "a", "length": 3, "mtime": 3}]
    src_manifest.commit_manifest(spark, out, "r1", f1)
    src_manifest.commit_manifest(spark, out, "r2", f2)
    # r2 retries its commit with fresh stats — baseline must stay r1's
    src_manifest.commit_manifest(spark, out, "r2", f3)
    assert src_manifest.read_manifest(spark, out) == {"a": (3, 3)}
    assert src_manifest.read_manifest(spark, out, exclude_run_id="r2") == {
        "a": (1, 1)
    }
    # and a run that never committed sees the latest baseline
    assert src_manifest.read_manifest(spark, out, exclude_run_id="r9") == {
        "a": (3, 3)
    }


def _pairs_df(spark, items):
    return spark.createDataFrame(
        [(i, h) for i, h in items], "image_id string, content_hash string"
    )


def _read_marker_set(spark, out, exclude=None):
    df = lineage.processed_keys(spark, out, exclude_run_id=exclude)
    return {} if df is None else {r["image_id"]: r["content_hash"] for r in df.collect()}


def test_marker_delta_tier_appends_then_compacts(spark):
    """compact_every=3: two epochs append O(epoch) deltas (snapshot
    untouched), the third folds everything; latest-wins across the
    delta order throughout."""
    shutil.rmtree(BASE, ignore_errors=True)
    out = os.path.join(BASE, "delta")
    lineage.advance_marker(spark, out, "e0", _pairs_df(spark, [("a", "h1"), ("b", "h1")]), compact_every=3)
    root = os.path.join(out, "_marker")
    m0 = json.loads(open(os.path.join(root, "LATEST")).read())
    assert m0["deltas"] == [] and m0["path"].startswith("snap-")  # bootstrap compacts
    lineage.advance_marker(spark, out, "e1", _pairs_df(spark, [("a", "h2"), ("c", "h1")]), compact_every=3)
    lineage.advance_marker(spark, out, "e2", _pairs_df(spark, [("c", "h2")]), compact_every=3)
    m2 = json.loads(open(os.path.join(root, "LATEST")).read())
    assert [d["run_id"] for d in m2["deltas"]] == ["e1", "e2"]
    assert m2["path"] == m0["path"]  # snapshot untouched by delta appends
    # merge-on-read: newest delta wins per id
    assert _read_marker_set(spark, out) == {"a": "h2", "b": "h1", "c": "h2"}
    # epoch exclusion drops only that epoch's delta
    assert _read_marker_set(spark, out, exclude="e2") == {"a": "h2", "b": "h1", "c": "h1"}
    # third advance hits the threshold -> compaction folds all tiers
    lineage.advance_marker(spark, out, "e3", _pairs_df(spark, [("d", "h1")]), compact_every=3)
    m3 = json.loads(open(os.path.join(root, "LATEST")).read())
    assert m3["deltas"] == [] and m3["run_id"] == "e3"
    assert _read_marker_set(spark, out) == {"a": "h2", "b": "h1", "c": "h2", "d": "h1"}
    # torn-retry exclusion of the compacting run falls back to the full
    # pre-compaction state (prev snapshot + the folded deltas)
    assert _read_marker_set(spark, out, exclude="e3") == {"a": "h2", "b": "h1", "c": "h2"}
    # GC keeps exactly the referenced dirs
    names = {
        n for n in os.listdir(root) if n.startswith(("snap-", "delta-"))
    }
    expected = {m3["path"], m3["prev"]["path"]} | {d["name"] for d in m3["prev"]["deltas"]}
    assert names == expected


def test_marker_delta_torn_epoch_retry_is_idempotent(spark):
    """A retried epoch replaces its own delta (same content, fresh
    name) and never sees its first attempt's state."""
    shutil.rmtree(BASE, ignore_errors=True)
    out = os.path.join(BASE, "retry")
    lineage.advance_marker(spark, out, "e0", _pairs_df(spark, [("a", "h1")]), compact_every=4)
    lineage.advance_marker(spark, out, "e1", _pairs_df(spark, [("a", "h2")]), compact_every=4)
    before = _read_marker_set(spark, out, exclude="e1")
    assert before == {"a": "h1"}
    # e1 "crashes" and retries with different content
    lineage.advance_marker(spark, out, "e1", _pairs_df(spark, [("a", "h3")]), compact_every=4)
    root = os.path.join(out, "_marker")
    m = json.loads(open(os.path.join(root, "LATEST")).read())
    assert [d["run_id"] for d in m["deltas"]] == ["e1"]  # one delta, not two
    assert _read_marker_set(spark, out) == {"a": "h3"}
    assert _read_marker_set(spark, out, exclude="e1") == {"a": "h1"}


def test_marker_torn_snapshot_retry_reads_predecessor(spark):
    """When the live snapshot belongs to the retrying run, the
    re-advance starts from the pre-run state, and readers excluding the
    run still fall back to that state."""
    shutil.rmtree(BASE, ignore_errors=True)
    out = os.path.join(BASE, "torn_snap")
    lineage.advance_marker(spark, out, "r1", _pairs_df(spark, [("a", "h1")]))
    lineage.advance_marker(spark, out, "r2", _pairs_df(spark, [("b", "h1")]))
    # r2 retries with compact_every high enough that a delta would win
    lineage.advance_marker(spark, out, "r2", _pairs_df(spark, [("b", "h2")]), compact_every=8)
    m = json.loads(open(os.path.join(os.path.join(out, "_marker"), "LATEST")).read())
    assert m["run_id"] == "r2"
    assert _read_marker_set(spark, out) == {"a": "h1", "b": "h2"}
    assert _read_marker_set(spark, out, exclude="r2") == {"a": "h1"}


def _kept_rows(spark, out):
    kept = lineage.read_kept(spark, out).toPandas()
    assert kept["image_id"].is_unique
    return sorted(map(tuple, kept[sorted(kept.columns)].itertuples(index=False)))


@pytest.mark.parametrize("fused", [False, True], ids=["staged", "fused"])
def test_crash_after_marker_flip_resumes_like_a_clean_run(spark, monkeypatch, fused):
    """Crash window of the marker commit point: an incremental run dies
    in commit_manifest AFTER advance_marker flipped LATEST. Resumed, it
    reads the pre-run marker (in fused mode the marker read runs inside
    the store step) and ends where an uninterrupted run ends: same
    rows_in, kept store and marker, and the manifest still keeps the
    previous run's listing for its exclusion read."""
    shutil.rmtree(BASE, ignore_errors=True)
    _write_sharded(400)
    clean, torn = os.path.join(BASE, "clean"), os.path.join(BASE, "torn")

    def run(out, rid):
        cfg = PipelineConfig(
            source_path=SRC, out_dir=out, run_id=rid, incremental=rid != "r1", fused=fused
        )
        return run_pipeline(spark, cfg)

    run(clean, "r1")
    shutil.copytree(clean, torn)
    r1_listing = src_manifest.read_manifest(spark, torn)
    _write_sharded(400, mutate_shard=3)
    ref = run(clean, "r2")

    def crash(*args, **kwargs):
        raise RuntimeError("crash after the marker flip")

    with monkeypatch.context() as m:
        m.setattr(src_manifest, "commit_manifest", crash)
        with pytest.raises(RuntimeError, match="after the marker flip"):
            run(torn, "r2")
    latest = json.loads(open(os.path.join(torn, "_marker", "LATEST")).read())
    assert latest["run_id"] == "r2"  # the crash landed after the flip
    got = run(torn, "r2")
    assert got["phases"]["store"]["rows_in"] == ref["phases"]["store"]["rows_in"] > 0
    assert _kept_rows(spark, torn) == _kept_rows(spark, clean)
    assert _read_marker_set(spark, torn) == _read_marker_set(spark, clean)
    assert src_manifest.read_manifest(spark, torn, exclude_run_id="r2") == r1_listing


def test_read_changed_files_preserves_partition_columns(spark):
    """A partitioned source layout (key=value dirs) must keep its
    partition columns when only some leaf files are read — basePath
    wiring (a bare file-list read silently DROPS partition columns)."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = os.path.join(BASE, "psrc")
    for part in ("a", "b"):
        spark.createDataFrame(
            [(f"{part}{i}", i) for i in range(5)], "image_id string, v int"
        ).write.mode("overwrite").parquet(os.path.join(src, f"grp={part}"))
    files = src_manifest.list_source_files(spark, src)
    assert len(files) >= 2
    changed = [f["path"] for f in files if "grp=b" in f["path"]]
    df = src_manifest.read_changed_files(spark, src, changed)
    rows = df.select("image_id", "grp", "v").collect()
    assert rows and all(r["grp"] == "b" for r in rows)
    assert {r["image_id"] for r in rows} == {f"b{i}" for i in range(5)}
    # empty change set keeps the schema too (footer-only scan)
    empty = src_manifest.read_changed_files(spark, src, [])
    assert "grp" in empty.columns and empty.count() == 0


def test_read_kept_all_runs_empty_returns_none(spark):
    """A run that kept ZERO rows writes only _SUCCESS under run=X;
    read_kept must report an empty store, not crash with
    UNABLE_TO_INFER_SCHEMA (which bricked every later run)."""
    out = os.path.join(BASE, "out_empty_store")
    shutil.rmtree(out, ignore_errors=True)
    empty = spark.createDataFrame([], "image_id string, lang string, run string")
    empty.write.partitionBy("run", "lang").parquet(lineage.kept_dir(out))
    os.makedirs(os.path.join(lineage.kept_dir(out), "run=r1"), exist_ok=True)
    assert lineage.read_kept(spark, out) is None
