"""Streaming ingest: the gobulk listen-loop as Structured Streaming.

gobulk's poll-forever mode (``Run(ctx, interval, ...)``, runner.go:90-105,
with Listener.Listen feeding new containers as they appear,
listener.go:49-122) is exactly Spark's file-source streaming with
``Trigger.AvailableNow``: each new source file is a discovered container
bulk, each micro-batch is one Reader->Parser->Planner->Executor sweep,
and Spark's checkpointLocation replaces the tracker's marker.

``foreachBatch`` reuses the *batch* stage functions unchanged — one code
path for both modes (the engine contract, not two engines): the scan
dedup audit, the parse stage, the plan and ``executor.store``. What is
streaming's own is the retry queue (below) and post-epoch maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import executor, lineage
from ..config import PipelineConfig
from ..plan import decision_columns
from ..sinks import KeptSink, ParquetKeptSink
from ..sources import scan as src_scan
from ..stages import PARSE_OUTPUT_SCHEMA, make_parse_stage

SOURCE_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

#: epochs append O(epoch) marker deltas; every Nth advance compacts
#: (a full snapshot rewrite per epoch would be O(corpus ids) — the
#: write cost a small-epoch stream cannot pay at warehouse scale)
MARKER_COMPACT_EVERY = 8


def _retry_root(out_dir: str) -> str:
    from ..lineage import _join

    return _join(out_dir, "_retry", "pending")


def _stage_retry(
    spark: SparkSession, out_dir: str, rid: str, seq: int, rows: DataFrame
) -> None:
    """Stage kept rows the sink permanently failed this epoch for a
    future drain, stamped with the staging epoch so a later drain keeps
    the LATEST version per id. Idempotent per epoch (overwrite of
    run=<rid>)."""
    from ..lineage import _join

    rows.withColumn("retry_epoch", F.lit(seq).cast("long")).write.mode(
        "overwrite"
    ).parquet(_join(_retry_root(out_dir), f"run={rid}"))


def _read_retry_queue(
    spark: SparkSession, out_dir: str, rid: str
) -> tuple[DataFrame | None, list[str], int]:
    """Pending previously-failed kept rows, LATEST version per id.

    Returns (rows, consumed_dir_names, next_seq); rows is None when the
    queue is empty. The current epoch's own staging dir (a torn
    foreachBatch retry may have written it) is excluded — the retried
    epoch re-derives its own failures. An id staged twice (failed, then
    re-delivered with new content and failed again) resolves to the
    highest retry_epoch stamp: retrying an arbitrary version could land
    stale content and poison the marker with its stale (id, hash).

    ``next_seq`` is max(existing stamps) + 1 — the stamp THIS epoch
    must stage its failures under. The foreachBatch epoch counter is
    NOT usable as the stamp: it resets when a stream restarts under a
    new checkpoint, so an undrained dir from a prior run (stamped,
    say, 5) would beat the newer content a fresh run staged at epoch 0
    and land stale data. Deriving the stamp from the queue itself keeps
    it monotonic per out_dir across restarts (re-staged rows always get
    a stamp above every dir they superseded)."""
    from pyspark.sql.window import Window

    from ..fsutil import Fs
    from ..lineage import _join

    fs = Fs(spark, out_dir)
    root = _retry_root(out_dir)
    if not fs.exists(root):
        return None, [], 1
    dirs = [
        d for d in fs.listdir(root) if d.startswith("run=") and d != f"run={rid}"
    ]
    if not dirs:
        return None, [], 1
    # mergeSchema: a queue staged by a pre-stamp version of this code
    # has no retry_epoch column (and a mixed root has it in SOME dirs);
    # those rows drain as epoch 0 — strictly older than anything the
    # stamped code writes (stamps start at 1), so latest-wins holds
    raw = spark.read.option("mergeSchema", "true").parquet(
        *[_join(root, d) for d in dirs]
    )
    if "retry_epoch" not in raw.columns:
        raw = raw.withColumn("retry_epoch", F.lit(0).cast("long"))
    else:
        raw = raw.withColumn(
            "retry_epoch", F.coalesce(F.col("retry_epoch"), F.lit(0).cast("long"))
        )
    next_seq = int(raw.agg(F.max("retry_epoch")).first()[0] or 0) + 1
    w = Window.partitionBy("image_id").orderBy(
        F.col("retry_epoch").desc(), F.col("content_hash").desc()
    )
    pend = (
        raw.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "retry_epoch")
    )
    return pend, dirs, next_seq


def _process_microbatch(
    batch: DataFrame, epoch_id: int, cfg: PipelineConfig, sink: KeptSink | None = None
) -> None:
    """One micro-batch through the same scan→parse→store semantics."""
    spark = batch.sparkSession
    rid = f"{cfg.run_id}-e{epoch_id}"
    out = cfg.out_dir
    sink = sink if sink is not None else ParquetKeptSink(out)
    # dead-letter queue peek (driver-side listdir, lazy read) doubles as
    # the no-op gate: a sweep whose discovered files hold ZERO rows and
    # whose retry queue is empty has nothing to scan, parse, store or
    # mark — short-circuit the ~20 fixed jobs (a poll-forever stream
    # hits this shape on every empty trigger file). A non-empty queue
    # still processes: an empty sweep is a valid heal trigger.
    pend, consumed, retry_seq = _read_retry_queue(spark, out, rid)
    if not consumed and batch.isEmpty():
        return
    # input_file_name() returns '' (not NULL) inside foreachBatch, so a
    # plain coalesce never falls back — nullif first
    src = src_scan.with_content_hash(
        batch.withColumn(
            "source_file",
            F.coalesce(F.nullif(F.input_file_name(), F.lit("")), F.lit("stream")),
        )
    )
    # in-batch content dedup (cross-batch dedup = the marker check)
    n_dups = src_scan.audit_duplicates(src, out, rid)
    # compacted-snapshot marker on the LATEST content_hash per id:
    # changed (or reverted) content re-enters as an update. The
    # snapshot advances only at the END of the store step and records
    # its epoch, so a foreachBatch RETRY of the same epoch reads the
    # predecessor snapshot — never masked by its own half-committed
    # outputs.
    marker = lineage.processed_keys(spark, out, exclude_run_id=rid)
    if marker is not None:
        src = src.join(marker, ["image_id", "content_hash"], "left_anti")
    if n_dups:
        # an AvailableNow drain with no maxFilesPerTrigger can make one
        # epoch of the entire backlog: the dup list gets the same
        # broadcast guard as the batch pipeline
        dups = spark.read.parquet(lineage.audit_leaf(out, "scan", rid))
        src = src_scan.anti_join_ids(
            src, dups, broadcast=n_dups <= cfg.dup_broadcast_max
        )
    feats = src.mapInPandas(
        make_parse_stage(cfg.stop_on_error), schema=PARSE_OUTPUT_SCHEMA
    )
    # dead-letter drain: the stream checkpoint has already consumed the
    # source files of previously-failed rows, so — unlike batch, where
    # manifest withholding forces a source re-read — the ONLY in-stream
    # re-delivery lever is this staged retry queue of kept rows. It
    # joins the epoch's single sink write as extra kept rows.
    stored = executor.store(
        spark,
        sink,
        out,
        rid,
        decision_columns(feats, cfg.thresholds),
        n_dups,
        extra_kept=pend,
        compact_every=MARKER_COMPACT_EVERY,
    )
    if stored.failed_rows is not None:
        # ALL failed rows — fresh and re-failed queued ones — re-stage
        # under this epoch's run scope, stamped with the queue-derived
        # monotonic seq (NOT epoch_id, which resets on stream restart)
        # for the latest-version-wins resolution; staged BEFORE the
        # consumed dirs are deleted, so a crash in between re-drains
        # next epoch (safe: sink writes are idempotent per run scope)
        _stage_retry(spark, out, rid, retry_seq, stored.failed_rows)
    # queue dirs consumed — deleted only now, after the marker flip
    # committed the epoch: a crash anywhere above re-drains them (the
    # store exclusion on pend makes that idempotent)
    if consumed:
        from ..fsutil import Fs
        from ..lineage import _join

        fs = Fs(spark, out)
        for d in consumed:
            fs.delete(_join(_retry_root(out), d))
    # post-epoch maintenance (sinks that support it): per-epoch commits
    # fragment a table-format store into one small file set per epoch —
    # the sink compacts when its live-file count crosses its threshold,
    # so the stream stays scannable without an external OPTIMIZE cron.
    # After the marker flip: compaction must never run inside the
    # epoch's commit window (it is content-preserving, but a crash
    # mid-rewrite should leave a committed epoch, not a torn one).
    # Best-effort by contract: the epoch is already committed, so a
    # maintenance failure (e.g. an optimize losing its OCC race until
    # retries run out) must not fail the batch and kill the stream —
    # the next epoch simply retries compaction (round-6 ADVICE)
    if hasattr(sink, "maintain"):
        try:
            sink.maintain(spark)
        except Exception as exc:  # pragma: no cover - timing-dependent
            import logging

            logging.getLogger(__name__).warning(
                "post-epoch maintenance failed (will retry next epoch): %s",
                exc,
            )


def run_streaming_ingest(
    spark: SparkSession,
    cfg: PipelineConfig,
    source_dir: str,
    max_files_per_trigger: int | None = None,
    sink: KeptSink | None = None,
) -> None:
    """Drain all currently-available source files, then stop.

    AvailableNow = gobulk interval==0 (one sweep then return,
    runner.go:98-104); rerunning later picks up only new files via the
    stream checkpoint — the LastTrackedContainer marker.
    """
    reader = (
        spark.readStream.schema(SOURCE_DDL)
        .format("parquet")
        .option("path", source_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    from ..deploy import ship

    ship(spark)  # microbatch UDFs need the package on executors
    stream = reader.load()
    q = (
        stream.writeStream.foreachBatch(
            lambda df, eid: _process_microbatch(df, eid, cfg, sink)
        )
        .option("checkpointLocation", os.path.join(cfg.out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
