"""The pipeline driver: scan → parse → plan/store, checkpointed.

gobulk's whole runtime (Run/Runner/Listener/Reader/Parser/Planner/
Executor, runner.go:90-226) collapses to this one linear DataFrame
program; the preserved *logical* boundaries are the phase commits
(SURVEY §3.1). Each phase stages its output to parquet and then flips a
checkpoint manifest — on resume, committed phases are skipped and their
staged output re-read (gobulk TestSimpleRunWithMarker semantics).

Phase map (gobulk step.go:6-19 → here):
  listener/reader → 'scan'  : source scan, marker anti-join, hash dedup
  parser          → 'parse' : salted repartition + mapInPandas features
  planner/executor→ 'store' : JVM rule chain, kept/audit/metrics writes

Scale design notes are inline; the short version: the binary column is
pruned or consumed everywhere before any shuffle, the only wide shuffle
is the salted repartition feeding the Python stage (deliberate: it
rebalances skewed phash buckets across executors ahead of the expensive
UDF), and every audit/metrics write is a narrow append.
"""

from __future__ import annotations

import time
from dataclasses import asdict

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import deploy, executor, lineage
from .config import PipelineConfig
from .executor import KEPT_COLUMNS, KEPT_SCHEMA_DDL  # noqa: F401  (public names)
from .plan import decision_columns
from .sinks import KeptSink, ParquetKeptSink
from .sources import manifest as src_manifest
from .sources import scan as src_scan
from .stages import PARSE_OUTPUT_SCHEMA, make_parse_stage

def _salted_repartition(df: DataFrame, cfg: PipelineConfig, n_partitions: int) -> DataFrame:
    """Spread hot phash buckets before the expensive Python stage.

    Deterministic salt from image_id (not rand()) so retried tasks
    produce identical partitioning — gobulk's stable re-sort concern
    (parser.go:92-94) solved by keying instead of ordering.
    """
    bucket = F.pmod(F.col("phash"), F.lit(cfg.phash_buckets))
    salt = F.pmod(F.abs(F.xxhash64("image_id")), F.lit(cfg.salt_buckets))
    return df.repartition(n_partitions, bucket, salt)


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, sink: KeptSink | None = None
) -> dict:
    """Execute (or resume) one run. Returns a summary dict.

    ``sink`` is the kept-store backend (gobulk Output seam,
    output.go:12-16); default is the parquet-directory sink. Audit,
    metrics and checkpoints stay in lineage — they are the Tracker,
    not the Output."""
    t_start = time.time()
    out, rid = cfg.out_dir, cfg.run_id
    sink = sink if sink is not None else ParquetKeptSink(out)
    from .session import ensure_active

    ensure_active(spark)  # scheduler-thread drivers: getActiveSession
    # is a JVM thread-local, unset off the main thread
    deploy.ship(spark)  # executors must import this package (any cwd)
    summary: dict = {"run_id": rid, "phases": {}, "config": {k: str(v) for k, v in asdict(cfg).items()}}

    def _pause_check(phase: str) -> dict | None:
        """Cooperative pause at phase boundaries (gobulk switcher,
        C3): checked only when the phase has uncommitted work, so a
        paused run reports exactly the phases that DID complete;
        committed phases stay committed and a later run resumes."""
        if lineage.pause_requested(out, spark):
            summary["status"] = "paused"
            summary["paused_before"] = phase
            summary["wall_s"] = time.time() - t_start
            return summary
        return None

    # ---------------- phase: scan (discover, prune, marker, dedup) ---------
    # the run's FROZEN file set: listed once through the Hadoop FS
    # (driver-side, gobulk's S3-list cost) and staged, so scan, parse
    # and any crash-retry see the identical files even if the source
    # mutates mid-run. Incremental runs prune files whose (length,
    # mtime) match the last committed manifest BEFORE any byte is read
    # — the content-hash md5 then runs only over changed data (gobulk
    # takes ContentHash from the listing ETag, input/s3.go:203-205;
    # round 2 re-hashed the whole corpus every sweep).
    scan_set = src_manifest.run_scan_set(spark, out, rid, cfg.source_path)

    def _source_frame() -> DataFrame:
        if cfg.incremental:
            src = src_manifest.read_changed_files(
                spark, cfg.source_path, scan_set["changed"]
            )
        else:
            src = src_scan.read_source(spark, cfg.source_path)
        return src_scan.with_content_hash(src)

    scan_audit_path = lineage.audit_leaf(out, "scan", rid)
    ck = cfg.resume and lineage.phase_committed(out, rid, "scan")
    if not ck:
        if (p := _pause_check("scan")) is not None:
            return p
        t0 = time.time()
        src = _source_frame()
        if cfg.incremental:
            # marker keys on the LATEST content_hash per id: a
            # re-scanned id with NEW (or reverted) content passes the
            # anti-join and re-enters as an update/delete (gobulk
            # tracker/gorm.go:441-449 re-tracks per iteration). The
            # compacted-snapshot marker advances only at store commit
            # and excludes THIS run's torn snapshot, so a retried scan
            # sees the same input as the first attempt.
            marker = lineage.processed_keys(spark, out, exclude_run_id=rid)
            if marker is not None:
                src = src.join(marker, ["image_id", "content_hash"], "left_anti")
        # narrow-projection dedup: Catalyst prunes the scan to 3 columns;
        # source_file rides along so the audit needs no join back
        n_dups = src_scan.audit_duplicates(src, out, rid)
        scan_stats = dict(scan_set["stats"])
        if not cfg.incremental:
            # a full run reads EVERY file regardless of the manifest
            # diff — reporting the changed subset here would fabricate
            # the very prune-economics evidence the bench cites
            scan_stats["source_files_scanned"] = scan_stats["source_files_total"]
            scan_stats["source_bytes_scanned"] = scan_stats["source_bytes_total"]
        ck = lineage.commit_phase(
            out,
            rid,
            "scan",
            n_dups=n_dups,
            wall_s=time.time() - t0,
            **scan_stats,
        )
    summary["phases"]["scan"] = ck
    n_dups = ck["n_dups"]

    # ---------------- phase: parse (decode + models, vectorized) -----------
    feats_path = lineage.stage_dir(out, rid, "features")

    def _parse_frame() -> DataFrame:
        """The (lazy) parse DataFrame: marker/dup anti-join -> salted
        repartition -> Arrow parse stage."""
        src = _source_frame()
        if cfg.incremental:
            # snapshot marker (excluding this run's torn snapshot, so a
            # fused-mode retry after a crashed store is not masked by
            # its own half-committed state)
            marker = lineage.processed_keys(spark, out, exclude_run_id=rid)
            if marker is not None:
                src = src.join(marker, ["image_id", "content_hash"], "left_anti")
        if n_dups:  # dup ids come from the committed scan-audit partition
            dups = spark.read.parquet(scan_audit_path)
            src = src_scan.anti_join_ids(src, dups, broadcast=n_dups <= cfg.dup_broadcast_max)
        n_part = spark.sparkContext.defaultParallelism * 2
        salted = _salted_repartition(src, cfg, n_part)
        return salted.mapInPandas(
            make_parse_stage(cfg.stop_on_error), schema=PARSE_OUTPUT_SCHEMA
        )

    ck = cfg.resume and lineage.phase_committed(out, rid, "parse")
    if cfg.fused:
        # throughput mode: no features staging; parse fuses into the
        # store job below. Resume granularity coarsens to the whole
        # process step (gobulk ContainerBulkSize=inf analogue).
        ck = ck or {"phase": "parse", "status": "fused-into-store"}
    elif not ck:
        if (p := _pause_check("parse")) is not None:
            return p
        t0 = time.time()
        feats = _parse_frame()
        # row count via observation on the write job — no second scan
        obs = Observation(f"parse-{rid}")
        feats = feats.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        feats.write.mode("overwrite").parquet(feats_path)
        ck = lineage.commit_phase(
            out, rid, "parse", n_rows=obs.get["n_rows"], wall_s=time.time() - t0
        )
    summary["phases"]["parse"] = ck

    # ---------------- phase: store (decide, write kept/audit/metrics) ------
    ck = cfg.resume and lineage.phase_committed(out, rid, "store")
    if not ck:
        if (p := _pause_check("store")) is not None:
            return p
        # intermittence (gobulk C4, format.go:56-63): postpone the
        # store-mutating phase until the operator's window opens.
        # scan/parse above already ran — the wait starts from staged
        # features. Pause stays honored while waiting.
        waited = 0.0
        while (until := lineage.intermit_until(out, spark)) is not None:
            remaining = until - time.time()
            if remaining <= 0:
                break
            if (p := _pause_check("store")) is not None:
                p["intermitted_s"] = round(waited, 3)
                return p
            step = min(remaining, 0.5)
            time.sleep(step)
            waited += step
        if waited:
            summary["intermitted_s"] = round(waited, 3)
        t0 = time.time()
        feats = _parse_frame() if cfg.fused else spark.read.parquet(feats_path)
        decided = decision_columns(feats, cfg.thresholds)
        if cfg.stop_on_error and not cfg.fused:
            # the parse stage raises on the first undecodable row; this
            # catches staged features parsed without the policy (a fused
            # run parses inside the store step, under the policy)
            n_issue = decided.where(F.col("action") == "issue").count()
            if n_issue:
                raise RuntimeError(f"StopOnError: {n_issue} issue rows in parse output")
        stored = executor.store(spark, sink, out, rid, decided, n_dups)
        failed_df, n_failed = stored.failed, stored.totals["sink_failed"]
        # file-manifest advance: the frozen listing this run processed
        # becomes the next run's prune baseline (committed before the
        # phase flip so a crash in between re-commits identical content).
        # Files holding sink-FAILED rows are withheld: "unchanged file"
        # must mean "all rows landed", or the prune would mask the
        # re-import the marker exclusion in the store step arranged.
        manifest_files = scan_set["files"]
        if n_failed:
            # distinct source FILES of failed rows — bounded by the file
            # count (which the driver already holds as the manifest), so
            # this collect never scales with row-level failure volume
            failed_files = {
                src_manifest.norm_path(r["source_file"])
                for r in failed_df.select("source_file").distinct().collect()
            }
            if None in failed_files:  # unknown provenance: withhold all
                manifest_files = []
            else:
                manifest_files = [
                    f
                    for f in manifest_files
                    if src_manifest.norm_path(f["path"]) not in failed_files
                ]
        ts = time.time()
        src_manifest.commit_manifest(spark, out, rid, manifest_files)
        subops = stored.subops + [
            {"op": "commit_manifest", "wall_s": round(time.time() - ts, 3), "ok": True}
        ]
        # `kept` must count rows that LANDED: a failed row was audited
        # as an issue and withheld from the marker (failures are
        # create/update rows by construction: only kept rows reach the
        # sink)
        totals = stored.totals
        ck = lineage.commit_phase(
            out,
            rid,
            "store",
            rows_in=totals["rows_in"],
            kept=totals["kept"] - n_failed,
            dropped=totals["dropped"],
            issues=totals["issues"] + n_failed,
            sink_failed=n_failed,
            subops=subops,
            wall_s=time.time() - t0,
        )
    summary["phases"]["store"] = ck
    summary["status"] = "completed"
    summary["wall_s"] = time.time() - t_start
    return summary
