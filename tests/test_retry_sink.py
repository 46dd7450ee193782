"""Remote-sink retry contract + schema gate (round-3 VERDICT #4/#5).

The reference's ES output retries 429'd chunks 15x with backoff,
retries version conflicts 3x, treats delete-404 as success, and records
everything else as a per-item issue with payload
(output/elasticsearch.go:309-320,343-360); it also deep-diffs the
declared schema against the live store before running
(output/elasticsearch.go:153-158, output/mysql.go:48-76). These tests
pin both contracts against the injectable UnreliableMemoryKeptSink and
the parquet sink's validate().
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gobulk_spark import lineage
from gobulk_spark.config import PipelineConfig
from gobulk_spark.pipeline import KEPT_SCHEMA_DDL, run_pipeline
from gobulk_spark.sinks import (
    MemoryKeptSink,
    ParquetKeptSink,
    SinkSchemaMismatch,
    UnreliableMemoryKeptSink,
)

BASE = "/tmp/gobulk_spark_test_out/retry_sink"


def _src(n=300, seed=6) -> str:
    from gobulk_spark.corpus import generate_pairs

    os.makedirs(BASE, exist_ok=True)
    pairs, _ = generate_pairs(n, seed=seed)
    path = os.path.join(BASE, "src.parquet")
    pq.write_table(pairs, path)
    return path


def test_transient_failures_retry_to_success(spark):
    """Every item 429s twice then lands: the kept store must equal a
    reliable run's, with zero audit issues."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src()
    counts: dict[str, int] = {}

    def fault(item, attempt):
        counts[item["image_id"]] = attempt
        return "transient" if attempt <= 2 else None

    flaky = UnreliableMemoryKeptSink(fault=fault)
    run_pipeline(
        spark,
        PipelineConfig(source_path=src, out_dir=os.path.join(BASE, "f"), run_id="r1"),
        sink=flaky,
    )
    reliable = MemoryKeptSink()
    run_pipeline(
        spark,
        PipelineConfig(source_path=src, out_dir=os.path.join(BASE, "r"), run_id="r1"),
        sink=reliable,
    )
    kf = flaky.read(spark).toPandas().sort_values("image_id").reset_index(drop=True)
    kr = reliable.read(spark).toPandas().sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(kf, kr)
    assert all(v == 3 for v in counts.values())  # 2 rejects + 1 success
    audit = lineage.read_audit(spark, os.path.join(BASE, "f")).toPandas()
    assert (audit["issue_type"] == "output_write").sum() == 0


def test_permanent_failures_become_issue_rows_and_reenter(spark):
    """A permanently-failing item is absent from kept, lands as a
    payload-carrying audit issue, stays OUT of the marker, and is
    re-imported by the next incremental run."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src()
    out = os.path.join(BASE, "out")
    poison: set[str] = set()

    def fault(item, attempt):
        return "permanent" if item["image_id"] in poison else None

    sink = UnreliableMemoryKeptSink(fault=fault)
    probe = run_pipeline(
        spark, PipelineConfig(source_path=src, out_dir=os.path.join(BASE, "probe"),
                              run_id="p"), sink=MemoryKeptSink(),
    )
    # poison two ids that a clean run keeps
    clean_run = MemoryKeptSink()
    shutil.rmtree(os.path.join(BASE, "probe"), ignore_errors=True)
    run_pipeline(
        spark, PipelineConfig(source_path=src, out_dir=os.path.join(BASE, "probe"),
                              run_id="p"), sink=clean_run,
    )
    kept_ids = sorted(clean_run.read(spark).toPandas().image_id)
    poison.update(kept_ids[:2])

    s1 = run_pipeline(
        spark, PipelineConfig(source_path=src, out_dir=out, run_id="r1"), sink=sink
    )
    kept = sink.read(spark).toPandas()
    assert not poison & set(kept.image_id)
    audit = lineage.read_audit(spark, out).toPandas()
    issues = audit[audit.issue_type == "output_write"]
    assert set(issues.image_id) == poison
    assert (issues.phase == "execute").all()
    assert (issues.action == "issue").all()
    assert issues.error_msg.str.contains("permanent failure").all()
    assert issues.payload.notna().all()
    # marker excludes the failed ids -> the next incremental run
    # re-imports exactly them once the fault clears
    marker = lineage.processed_keys(spark, out)
    assert not poison & {r["image_id"] for r in marker.collect()}
    poison.clear()
    s2 = run_pipeline(
        spark,
        PipelineConfig(source_path=src, out_dir=out, run_id="r2", incremental=True),
        sink=sink,
    )
    assert s2["phases"]["store"]["rows_in"] == 2
    kept2 = sink.read(spark).toPandas()
    assert set(kept_ids[:2]) <= set(kept2.image_id)
    assert kept2["image_id"].is_unique


def test_conflict_retries_bounded(spark):
    """409-shaped conflicts retry exactly max_conflict_retries times,
    then the item fails; a conflict clearing on retry 2 lands."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src(100, seed=7)

    calls: dict[str, int] = {}

    def fault(item, attempt):
        iid = item["image_id"]
        calls[iid] = attempt
        h = int(iid[-2:], 16)
        if h % 3 == 0:  # clears on the 2nd attempt
            return "conflict" if attempt == 1 else None
        if h % 7 == 1:  # never clears
            return "conflict"
        return None

    sink = UnreliableMemoryKeptSink(fault=fault, max_conflict_retries=3)
    out = os.path.join(BASE, "out")
    run_pipeline(
        spark, PipelineConfig(source_path=src, out_dir=out, run_id="r1"), sink=sink
    )
    audit = lineage.read_audit(spark, out).toPandas()
    failed = audit[audit.issue_type == "output_write"]
    kept = sink.read(spark)
    kept_ids = set() if kept is None else set(kept.toPandas().image_id)
    for iid, attempts in calls.items():
        h = int(iid[-2:], 16)
        if h % 3 == 0 and iid in kept_ids:
            assert attempts == 2
        elif h % 7 == 1 and iid in set(failed.image_id):
            assert attempts == 4  # 1 + 3 bounded retries
            assert "conflict" in failed[failed.image_id == iid].error_msg.iloc[0]


def test_delete_of_absent_key_is_success(spark):
    """ES delete-404 contract: deleting keys that are not in the store
    must be a silent no-op, not an error."""
    sink = UnreliableMemoryKeptSink()
    sink.runs["r0"] = pd.DataFrame({"image_id": ["a"], "caption": ["x"]})
    keys = spark.createDataFrame([("zz",), ("a",)], "image_id string")
    sink.delete(spark, "r1", keys)  # must not raise
    assert list(sink.runs["r0"].image_id) == []


def test_parquet_schema_validation_rejects_renamed_column(spark):
    """A kept store written under an older schema fails fast at setup
    with the full diff — before any write (VERDICT #5)."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src()
    out = os.path.join(BASE, "out")
    run_pipeline(spark, PipelineConfig(source_path=src, out_dir=out, run_id="r1"))
    # sabotage: rename a column in every kept file (old engine version)
    kept_root = os.path.join(out, "kept")
    for dirpath, _, files in os.walk(kept_root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                t = pq.read_table(p)
                t = t.rename_columns(
                    [c if c != "ppl" else "perplexity" for c in t.column_names]
                )
                pq.write_table(t, p)
    with pytest.raises(SinkSchemaMismatch) as ei:
        run_pipeline(
            spark,
            PipelineConfig(source_path=src, out_dir=out, run_id="r2",
                           incremental=True),
        )
    msg = str(ei.value)
    assert "missing column: ppl" in msg and "unexpected column: perplexity" in msg
    # nothing was written by the rejected run
    assert not os.path.isdir(os.path.join(out, "kept", "run=r2"))


def test_validate_passes_on_healthy_store(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src(100, seed=8)
    out = os.path.join(BASE, "out")
    run_pipeline(spark, PipelineConfig(source_path=src, out_dir=out, run_id="r1"))
    ParquetKeptSink(out).validate(spark, KEPT_SCHEMA_DDL)  # must not raise


def test_streaming_retry_queue_redelivers_failed_rows(spark):
    """The stream checkpoint consumes source files even when the sink
    permanently fails rows, so the staged retry queue is the only
    in-stream re-delivery lever: failed rows must land in a LATER epoch
    once the sink heals, enter the marker, and close the audit loop."""
    import pyarrow.parquet as pq2

    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.streaming.incremental import run_streaming_ingest

    shutil.rmtree(BASE, ignore_errors=True)
    src_dir = os.path.join(BASE, "stream_src")
    out = os.path.join(BASE, "stream_out")
    os.makedirs(src_dir)
    pairs, _ = generate_pairs(120, seed=9)
    pq2.write_table(pairs.slice(0, 60), os.path.join(src_dir, "part-000.parquet"))

    healthy = {"v": False}
    victims: set[str] = set()

    def fault(item, attempt):
        if healthy["v"]:
            return None
        if int(item["image_id"].split("-")[-1], 16) % 7 == 0:  # hex ids
            victims.add(item["image_id"])
            return "permanent"
        return None

    sink = UnreliableMemoryKeptSink(fault=fault)
    cfg = PipelineConfig(source_path=src_dir, out_dir=out, run_id="s1")
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    assert victims, "fault injection never fired"

    def stored_ids():
        return {
            i for f in sink.runs.values() for i in f["image_id"].tolist()
        }

    assert not (victims & stored_ids())  # failed rows are NOT stored

    # sink heals; a new file triggers the next epoch, which drains the
    # retry queue alongside its own rows
    healthy["v"] = True
    pq2.write_table(pairs.slice(60, 60), os.path.join(src_dir, "part-001.parquet"))
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    assert victims <= stored_ids()  # re-delivered despite consumed files
    audit = lineage.read_audit(spark, out).toPandas()
    landed = set(audit.loc[audit.action == "retry_landed", "image_id"])
    assert victims <= landed
    # and the marker now covers them: a third no-op epoch re-imports nothing
    pq2.write_table(pairs.slice(0, 0), os.path.join(src_dir, "part-002.parquet"))
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    audit3 = lineage.read_audit(spark, out).toPandas()
    assert len(audit3[audit3.action == "retry_landed"]) == len(landed)


def test_drain_joins_the_epochs_single_write(spark):
    """Round-4 high fix: the retry drain must join the epoch's SINGLE
    sink.write. The old drain issued a second write under the same run
    scope, whose per-run-overwrite contract silently replaced the
    healing epoch's own freshly-kept rows — marker already recorded
    them as processed, so they never re-entered (permanent loss)."""
    import pyarrow.parquet as pq2

    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.streaming.incremental import run_streaming_ingest

    shutil.rmtree(BASE, ignore_errors=True)
    src_dir = os.path.join(BASE, "clobber_src")
    out = os.path.join(BASE, "clobber_out")
    os.makedirs(src_dir)
    pairs, _ = generate_pairs(120, seed=11)
    pq2.write_table(pairs.slice(0, 60), os.path.join(src_dir, "part-000.parquet"))

    healthy = {"v": False}
    victims: set[str] = set()

    def fault(item, attempt):
        if healthy["v"]:
            return None
        if int(item["image_id"].split("-")[-1], 16) % 5 == 0:
            victims.add(item["image_id"])
            return "permanent"
        return None

    sink = UnreliableMemoryKeptSink(fault=fault)
    cfg = PipelineConfig(source_path=src_dir, out_dir=out, run_id="c1")
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    assert victims, "fault injection never fired"
    healthy["v"] = True
    pq2.write_table(pairs.slice(60, 60), os.path.join(src_dir, "part-001.parquet"))
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)

    stored = {i for f in sink.runs.values() for i in f["image_id"].tolist()}
    audit = lineage.read_audit(spark, out).toPandas()
    # every id ever decided create/update must be in the store after the
    # heal: epoch 2's OWN rows (the clobber casualties of the old bug)
    # and the drained epoch-1 victims alike
    exec_kept = set(audit.loc[audit.action.isin(["create", "update"]), "image_id"])
    assert exec_kept and victims <= stored
    assert exec_kept <= stored


def test_wholesale_epoch_failure_converges(spark):
    """Every row of an epoch failing permanently (the worst case for
    driver-side id lists) must route through the failures FRAME: the
    whole epoch enters the retry queue and stays out of the marker, and
    a healed later epoch lands everything with the audit loop closed."""
    import pyarrow.parquet as pq2

    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.streaming.incremental import run_streaming_ingest

    shutil.rmtree(BASE, ignore_errors=True)
    src_dir = os.path.join(BASE, "whole_src")
    out = os.path.join(BASE, "whole_out")
    os.makedirs(src_dir)
    pairs, _ = generate_pairs(120, seed=12)
    pq2.write_table(pairs.slice(0, 60), os.path.join(src_dir, "part-000.parquet"))

    healthy = {"v": False}

    def fault(item, attempt):
        return None if healthy["v"] else "permanent"

    sink = UnreliableMemoryKeptSink(fault=fault)
    cfg = PipelineConfig(source_path=src_dir, out_dir=out, run_id="w1")
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)

    def stored_ids():
        return {i for f in sink.runs.values() for i in f["image_id"].tolist()}

    assert not stored_ids()  # nothing landed
    audit = lineage.read_audit(spark, out).toPandas()
    failed = set(audit.loc[audit.issue_type == "output_write", "image_id"])
    kept_decided = set(
        audit.loc[audit.action.isin(["create", "update"]), "image_id"]
    )
    assert failed == kept_decided and failed  # EVERY kept row failed

    healthy["v"] = True
    pq2.write_table(pairs.slice(60, 60), os.path.join(src_dir, "part-001.parquet"))
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    audit2 = lineage.read_audit(spark, out).toPandas()
    landed = set(audit2.loc[audit2.action == "retry_landed", "image_id"])
    assert failed == landed  # the whole failed epoch drained and landed
    assert failed <= stored_ids()
    # marker covers them: a third no-op epoch re-imports nothing
    pq2.write_table(pairs.slice(0, 0), os.path.join(src_dir, "part-002.parquet"))
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    audit3 = lineage.read_audit(spark, out).toPandas()
    assert len(audit3[audit3.action == "retry_landed"]) == len(landed)


def test_retry_queue_keeps_latest_version_per_id(spark):
    """An id staged in two epochs (failed, then re-delivered with NEW
    content after a crash left the older staging dir behind) must drain
    as the latest version — retrying an arbitrary one could land stale
    content and poison the marker with its stale (id, hash) pair."""
    from gobulk_spark.pipeline import KEPT_SCHEMA_DDL
    from gobulk_spark.streaming.incremental import _read_retry_queue, _stage_retry

    shutil.rmtree(BASE, ignore_errors=True)
    out = os.path.join(BASE, "rq_out")
    os.makedirs(out)
    v1 = spark.createDataFrame(
        [("x", "f", "h1", 8, 8, "png", 1, "cap v1", "en", 0.9, 5.0)],
        KEPT_SCHEMA_DDL,
    )
    v2 = spark.createDataFrame(
        [("x", "f", "h2", 8, 8, "png", 1, "cap v2", "en", 0.9, 5.0)],
        KEPT_SCHEMA_DDL,
    )
    _stage_retry(spark, out, "e0", 0, v1)
    _stage_retry(spark, out, "e1", 1, v2)
    pend, consumed, next_seq = _read_retry_queue(spark, out, "e2")
    rows = pend.toPandas()
    assert len(rows) == 1 and rows["caption"][0] == "cap v2"
    assert sorted(consumed) == ["run=e0", "run=e1"]
    assert next_seq == 2  # above every stamp it superseded
    # a torn retry of epoch e1 must NOT consume its own staging dir
    pend1, consumed1, _ = _read_retry_queue(spark, out, "e1")
    assert consumed1 == ["run=e0"] and pend1.toPandas()["caption"][0] == "cap v1"


def test_retry_stamp_monotonic_across_stream_restarts(spark):
    """The staging stamp must NOT be the foreachBatch epoch counter: it
    resets when a stream restarts under a new checkpoint, so an
    undrained dir from run A (stamped 5) would beat the NEWER content
    run B staged at its epoch 0. The queue-derived stamp (max existing
    + 1) keeps latest-version-wins true across restarts."""
    from gobulk_spark.pipeline import KEPT_SCHEMA_DDL
    from gobulk_spark.streaming.incremental import _read_retry_queue, _stage_retry

    shutil.rmtree(BASE, ignore_errors=True)
    out = os.path.join(BASE, "rq_restart")
    os.makedirs(out)
    v1 = spark.createDataFrame(
        [("x", "f", "h1", 8, 8, "png", 1, "old run A", "en", 0.9, 5.0)],
        KEPT_SCHEMA_DDL,
    )
    v2 = spark.createDataFrame(
        [("x", "f", "h2", 8, 8, "png", 1, "new run B", "en", 0.9, 5.0)],
        KEPT_SCHEMA_DDL,
    )
    # run A staged at its epoch 5; run B (fresh checkpoint, epoch 0)
    # must stamp ABOVE it — the next_seq the queue read hands back
    _stage_retry(spark, out, "a-e5", 5, v1)
    _, _, next_seq = _read_retry_queue(spark, out, "b-e0")
    assert next_seq == 6
    _stage_retry(spark, out, "b-e0", next_seq, v2)
    pend, consumed, _ = _read_retry_queue(spark, out, "c-e0")
    assert pend.toPandas()["caption"].tolist() == ["new run B"]
    assert sorted(consumed) == ["run=a-e5", "run=b-e0"]

