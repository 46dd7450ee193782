"""Streaming ingest: AvailableNow drain + restart picks up only new files."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gobulk_spark import lineage
from gobulk_spark.config import PipelineConfig
from gobulk_spark.corpus import generate_pairs
from gobulk_spark.pipeline import run_pipeline
from gobulk_spark.streaming.incremental import run_streaming_ingest

SRC = "/tmp/gobulk_spark_test_corpora/stream_src"
OUT = "/tmp/gobulk_spark_test_out/stream"


def _write_file(table, name):
    os.makedirs(SRC, exist_ok=True)
    pq.write_table(table, os.path.join(SRC, name))


def test_streaming_ingest_and_restart(spark):
    shutil.rmtree(SRC, ignore_errors=True)
    shutil.rmtree(OUT, ignore_errors=True)
    pairs, _ = generate_pairs(600, seed=42)
    _write_file(pairs.slice(0, 300), "part-000.parquet")
    _write_file(pairs.slice(300, 300), "part-001.parquet")

    cfg = PipelineConfig(source_path=SRC, out_dir=OUT, run_id="s1")
    run_streaming_ingest(spark, cfg, SRC)
    audit = lineage.read_audit(spark, OUT).toPandas()
    assert len(audit) == 600
    assert audit["image_id"].is_unique

    # new file appears; AvailableNow restart processes only it
    pairs2, _ = generate_pairs(800, seed=42)
    _write_file(pairs2.slice(600, 200), "part-002.parquet")
    run_streaming_ingest(spark, cfg, SRC)
    audit2 = lineage.read_audit(spark, OUT).toPandas()
    assert len(audit2) == 800
    assert audit2["image_id"].is_unique
    kept = lineage.read_kept(spark, OUT).toPandas()
    create_ids = set(audit2.loc[audit2.action == "create", "image_id"])
    assert set(kept["image_id"]) == create_ids


def test_streaming_matches_batch_decisions(spark, corpus_1500, golden_1500):
    """The streaming path must produce the same keep/drop as batch/golden."""
    path, pairs, _ = corpus_1500
    out = "/tmp/gobulk_spark_test_out/stream_vs_batch"
    shutil.rmtree(out, ignore_errors=True)
    src = "/tmp/gobulk_spark_test_corpora/stream_vs_batch_src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    shutil.copy(path, os.path.join(src, "pairs.parquet"))
    cfg = PipelineConfig(source_path=src, out_dir=out, run_id="s1")
    run_streaming_ingest(spark, cfg, src)
    audit = lineage.read_audit(spark, out).toPandas()
    m = audit.merge(golden_1500, on="image_id")
    spark_keep = m["action"] == "create"
    assert (spark_keep == m["keep"]).all()


def test_streaming_update_delete_matches_batch(spark):
    """A re-delivery file with changed content (updates) and now-failing
    captions (deletes) lands the same kept store and the same second-run
    audit actions through a stream (two sweeps) as through batch (a full
    run, then an incremental one), on the default parquet sink."""
    base = "/tmp/gobulk_spark_test_out/stream_update_delete"
    shutil.rmtree(base, ignore_errors=True)
    pairs, _ = generate_pairs(300, seed=7)
    pdf = pairs.to_pandas()

    def source(name: str) -> str:
        d = os.path.join(base, name, "src")
        os.makedirs(d)
        pq.write_table(pairs, os.path.join(d, "part-000.parquet"))
        return d

    src_b, src_s = source("batch"), source("stream")
    out_b, out_s = os.path.join(base, "batch", "out"), os.path.join(base, "stream", "out")
    run_pipeline(spark, PipelineConfig(source_path=src_b, out_dir=out_b, run_id="r1"))
    cfg_s = PipelineConfig(source_path=src_s, out_dir=out_s, run_id="s1")
    run_streaming_ingest(spark, cfg_s, src_s)
    first_epochs = set(lineage.read_audit(spark, out_s).toPandas()["run_id"])

    # two kept ids get new passing captions, two get failing ones
    kept = sorted(lineage.read_kept(spark, out_b).toPandas()["image_id"])
    upd, dele = kept[:2], kept[2:4]
    caption_of = dict(zip(pdf.image_id, pdf.caption))
    new_captions = {
        upd[0]: "a corrected caption describing the quiet harbor with small "
        "boats and the old lighthouse on a clear morning",
        upd[1]: caption_of[kept[4]],  # another kept row's passing caption
        dele[0]: "zz",  # fails too_short_chars -> delete
        dele[1]: "zz",
    }
    redo = pdf[pdf.image_id.isin(list(new_captions))].copy()
    redo["caption"] = redo["image_id"].map(new_captions)
    redo_table = pa.Table.from_pandas(redo, schema=pairs.schema, preserve_index=False)
    for src in (src_b, src_s):
        pq.write_table(redo_table, os.path.join(src, "part-001.parquet"))
    run_pipeline(
        spark,
        PipelineConfig(source_path=src_b, out_dir=out_b, run_id="r2", incremental=True),
    )
    run_streaming_ingest(spark, cfg_s, src_s)

    def kept_set(out):
        rows = lineage.read_kept(spark, out).select("image_id", "caption", "content_hash")
        return {tuple(r) for r in rows.collect()}

    def second_run_actions(out, is_second):
        audit = lineage.read_audit(spark, out).toPandas()
        audit = audit[(audit.wphase == "store") & audit.run_id.map(is_second)]
        return audit["action"].value_counts().to_dict()

    assert kept_set(out_s) == kept_set(out_b)
    batch_actions = second_run_actions(out_b, lambda r: r == "r2")
    assert batch_actions == {"update": 2, "delete": 2}
    assert second_run_actions(out_s, lambda r: r not in first_epochs) == batch_actions
    kept_s = lineage.read_kept(spark, out_s).toPandas()
    assert kept_s["image_id"].is_unique
    assert not set(dele) & set(kept_s["image_id"])
