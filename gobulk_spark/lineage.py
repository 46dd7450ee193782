"""Traceability tables: audit, metrics, checkpoint manifest, kept store.

gobulk's Tracker contract re-expressed over parquet directories (the
Iceberg jars are not in this image; the table-access layer lives here so
swapping parquet-dirs for Iceberg `writeTo().append()` + snapshots is a
local change, per SURVEY §7):

- audit table   ≙ Issue rows + Operation rows (issue.go:52-64,
  operation.go:9-20): one row per input row per run, with phase, action,
  rule_fired, drop_reason, issue_type, content_hash, payload, error_msg,
  partition_id.
- metrics table ≙ MetricsTracker counters (metrics_tracker.go:4-14).
- checkpoint    ≙ Iteration / started-finished markers (iteration.go:10-31,
  tracker/gorm.go:211-244): a JSON manifest per (run_id, phase), written
  tmp-then-rename so the commit flip is atomic — phase outputs staged
  first, checkpoint flipped last (idempotent resume under partial
  failure).
- marker        ≙ the tracker's per-identifier content hash
  (tracker/gorm.go:441-449): the latest (image_id, content_hash) pair
  per id, a compacted snapshot plus a bounded delta tier named by the
  run-stamped ``_marker/LATEST`` pointer (Fs.commit_pointer, the same
  torn-retry rule as the source file manifest). It advances at store
  commit; the audit is never read to rebuild it, so an out_dir with
  audit rows but no pointer reads an empty marker (its next
  incremental run re-processes every row, which is idempotent).

All manifest/directory metadata goes through the Hadoop FileSystem API
(fsutil.Fs), so ``out_dir`` may be any Hadoop-supported URI (file://,
hdfs://, s3a://) — never the driver's local ``os`` module.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import Fs

AUDIT_SCHEMA = (
    "run_id string, image_id string, source_file string, phase string, "
    "action string, rule_fired string, drop_reason string, issue_type string, "
    "content_hash string, payload string, error_msg string, "
    "partition_id int, created timestamp"
)

PHASES = ("scan", "parse", "plan", "store")


def _join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts)


def audit_dir(out_dir: str) -> str:
    return _join(out_dir, "audit")


def metrics_dir(out_dir: str) -> str:
    return _join(out_dir, "metrics")


def kept_dir(out_dir: str) -> str:
    return _join(out_dir, "kept")


# every writer of kept leaves (a landed run, a delete's rewrite) passes
# these options: on the local filesystem a write lands no Hadoop
# client-side ``.crc`` sidecar next to its files, so a kept leaf holds
# only parquet files whichever path last wrote it. Both keys name the
# ``file`` scheme (other stores ignore them), and the uncached
# filesystem keeps the raw one private to the write
KEPT_WRITE_OPTIONS = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def read_kept(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """All kept rows across runs (run/lang recovered as partition cols).

    `run` is cast back to string: partitionColumnTypeInference types a
    purely-numeric run id (run_id='20240816') as int/date, which would
    break every string comparison downstream (existing_ids' run
    exclusion, delete-leaf selection) and make the sink's schema
    validation reject a store the engine itself wrote."""
    from pyspark.errors import AnalysisException

    fs = Fs(spark, out_dir)
    path = kept_dir(out_dir)
    if not any(e.startswith("run=") for e in fs.listdir(path)):
        return None
    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        # run= dirs exist but hold no data files (a run that kept ZERO
        # rows writes only _SUCCESS): UNABLE_TO_INFER_SCHEMA — an empty
        # store, not an error
        return None
    return df.withColumn("run", F.col("run").cast("string"))


def stage_dir(out_dir: str, run_id: str, name: str) -> str:
    return _join(out_dir, "_stage", run_id, name)


def _ckpt_path(out_dir: str, run_id: str, phase: str) -> str:
    return _join(out_dir, "_checkpoint", run_id, f"{phase}.json")


def phase_committed(
    out_dir: str, run_id: str, phase: str, spark: SparkSession | None = None
) -> dict | None:
    """Manifest dict if the phase committed in a prior attempt, else None."""
    spark = spark or SparkSession.getActiveSession()
    fs = Fs(spark, out_dir)
    p = _ckpt_path(out_dir, run_id, phase)
    if not fs.exists(p):
        return None
    return json.loads(fs.read_text(p))


def commit_phase(
    out_dir: str, run_id: str, phase: str, spark: SparkSession | None = None, **info
) -> dict:
    """Atomically record a phase commit (stage outputs must exist already)."""
    spark = spark or SparkSession.getActiveSession()
    fs = Fs(spark, out_dir)
    manifest = {
        "run_id": run_id,
        "phase": phase,
        "status": "committed",
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **info,
    }
    fs.write_text_atomic(_ckpt_path(out_dir, run_id, phase), json.dumps(manifest))
    return manifest


def write_audit(df: DataFrame, out_dir: str, phase: str, run_id: str) -> None:
    """Write audit rows for one (phase, run).

    Overwrite scoped to the phase+run directory keeps re-runs idempotent:
    a crashed store phase that re-runs replaces exactly its own audit
    rows, never duplicating or touching other runs (gobulk's
    started/finished dance, solved by directory-scoped atomic replace).
    """
    df.write.mode("overwrite").parquet(
        _join(audit_dir(out_dir), f"wphase={phase}", f"run={run_id}")
    )


def audit_leaf(out_dir: str, phase: str, run_id: str) -> str:
    """One (phase, run) audit partition dir — a partition-pruned read
    (the scan phase's dup list doubles as parse's anti-join input)."""
    return _join(audit_dir(out_dir), f"wphase={phase}", f"run={run_id}")


def read_audit(spark: SparkSession, out_dir: str) -> DataFrame | None:
    from pyspark.errors import AnalysisException

    fs = Fs(spark, out_dir)
    path = audit_dir(out_dir)
    if not any(e.startswith("wphase=") for e in fs.listdir(path)):
        return None
    # wphase=/run= dirs discovered as partitions; run cast to string
    # for the same type-inference reason as read_kept
    try:
        df = spark.read.parquet(path)
    except AnalysisException:  # all leaves empty (see read_kept)
        return None
    return df.withColumn("run", F.col("run").cast("string"))


def audit_columns(
    df: DataFrame,
    run_id: str,
    phase_col,
    action_col,
    rule_col,
    reason_col,
    issue_col,
    content_hash_col=None,
    payload_col=None,
    error_col=None,
) -> DataFrame:
    """Project any per-row frame to the audit schema.

    payload/error_msg capture gobulk's Issue.Payload + Err text
    (issue.go:52-64): a failed row can be debugged from the audit table
    alone, without re-running it.
    """
    null_s = F.lit(None).cast("string")
    return df.select(
        F.lit(run_id).alias("run_id"),
        F.col("image_id"),
        F.col("source_file"),
        phase_col.alias("phase"),
        action_col.alias("action"),
        rule_col.alias("rule_fired"),
        reason_col.alias("drop_reason"),
        issue_col.alias("issue_type"),
        (content_hash_col if content_hash_col is not None else null_s).alias(
            "content_hash"
        ),
        (payload_col if payload_col is not None else null_s).alias("payload"),
        (error_col if error_col is not None else null_s).alias("error_msg"),
        F.spark_partition_id().alias("partition_id"),
        F.current_timestamp().alias("created"),
    )


def write_metrics(df: DataFrame, out_dir: str, phase: str, run_id: str) -> None:
    df.write.mode("overwrite").parquet(
        _join(metrics_dir(out_dir), f"wphase={phase}", f"run={run_id}")
    )


def partition_metrics(decided: DataFrame, run_id: str) -> DataFrame:
    """Per-partition counters (gobulk phase timers/gauges analogue)."""
    return (
        decided.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum(F.col("action").isin("omit", "delete").cast("long")).alias(
                "rows_dropped"
            ),
            F.sum((F.col("action") == "issue").cast("long")).alias("rows_issued"),
        )
        .withColumn("run_id", F.lit(run_id))
    )


def marker_root(out_dir: str) -> str:
    return _join(out_dir, "_marker")


def _marker_frames(spark: SparkSession, root: str, state: dict | None) -> list[DataFrame]:
    """One marker state's snapshot then its deltas, oldest first."""
    if state is None:
        return []
    return [spark.read.parquet(_join(root, state["path"]))] + [
        spark.read.parquet(_join(root, d["name"])) for d in state["deltas"]
    ]


def _merge_marker_frames(frames: list[DataFrame]) -> DataFrame:
    """Latest-per-id across prioritized frames (later = newer wins; the
    (priority, content_hash) struct breaks SAME-priority ties
    deterministically — duplicate ids with differing content, a
    data-contract violation, churn one stable sibling instead of
    flapping)."""
    tagged = [
        df.select("image_id", "content_hash").withColumn("_prio", F.lit(i))
        for i, df in enumerate(frames)
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    return u.groupBy("image_id").agg(
        F.expr("max_by(content_hash, struct(_prio, content_hash))").alias(
            "content_hash"
        )
    )


def processed_keys(
    spark: SparkSession, out_dir: str, exclude_run_id: str | None = None
) -> DataFrame | None:
    """Marker for incremental runs: the LATEST (image_id, content_hash)
    pair per id across committed runs — read from the compacted
    ``_marker`` table (snapshot + bounded delta tier), O(ids), never
    O(audit history). None when no run has advanced the marker.

    gobulk's dedup/track key is (IterationID, InputRepository,
    InputIdentifier, ContentHash) (tracker/gorm.go:441-449): the SAME
    identifier arriving with NEW content is not "already processed" —
    it re-enters the pipeline and becomes an update. Keying the marker
    on the pair (latest hash per id, never all-history pairs) preserves
    both the re-import contract and the revert case: a doc whose
    content reverts to a previously-seen hash must re-enter, or the
    kept store stays stale forever.

    Read the ``LATEST`` pointer, then scan the state it names: with
    live deltas the read is snapshot ∪ deltas with latest-wins priority
    (one map-side-combined aggregation over O(ids + K·epoch) rows, K
    bounded by the compaction threshold); with none it is a bare
    snapshot scan. ``exclude_run_id`` guarantees crash-retry
    idempotency: when the pointer belongs to that run, its predecessor
    state is read (``Fs.read_pointer``).
    """
    root = marker_root(out_dir)
    state = Fs(spark, out_dir).read_pointer(_join(root, "LATEST"), exclude_run_id)
    frames = _marker_frames(spark, root, state)
    if not frames:
        return None
    return frames[0] if len(frames) == 1 else _merge_marker_frames(frames)


def advance_marker(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    new_pairs: DataFrame,
    compact_every: int = 1,
) -> dict:
    """Atomically advance the compacted marker with this run's pairs.

    LSM-shaped two-tier commit, because a full snapshot rewrite per
    advance is O(total ids) — fine for occasional batch runs, fatal for
    a long-lived stream committing small epochs against a 10^12-id
    corpus. Starting from the pre-run state (the marker read with this
    run excluded):

    - delta append (when fewer than ``compact_every`` deltas are live):
      write ONLY this run's pairs, O(epoch); readers merge-on-read;
    - compaction (every ``compact_every``-th advance, on the first
      advance, and always when compact_every=1 — the batch default):
      fold snapshot + deltas + new pairs into a fresh snapshot,
      latest-per-id.

    The LATEST pointer flip (``Fs.commit_pointer``) is the commit point
    in both shapes — readers see the old or the new state, never a torn
    one. The pointer keeps the pre-run state as ``prev``, so a torn
    retry of THIS run reads and re-derives from its first attempt's
    input; new dirs take their sequence number from the live pointer,
    so a retry never overwrites a dir it references. GC then removes
    every dir neither the new state nor its ``prev`` references. At
    warehouse scale this whole function is one Iceberg MERGE snapshot
    commit.
    """
    fs = Fs(spark, out_dir)
    root = marker_root(out_dir)
    pointer = _join(root, "LATEST")
    live = fs.read_pointer(pointer)
    base = fs.read_pointer(pointer, exclude_run_id=run_id)
    seq = 0 if live is None else live["seq"] + 1
    new = new_pairs.select("image_id", "content_hash")
    if base is None or len(base["deltas"]) + 1 >= compact_every:
        name = f"snap-{seq:08d}-{run_id}"
        merged = _merge_marker_frames(_marker_frames(spark, root, base) + [new])
        state = {"seq": seq, "path": name, "deltas": []}
    else:
        name = f"delta-{seq:08d}-{run_id}"
        merged = _merge_marker_frames([new])  # one row per id
        deltas = base["deltas"] + [{"name": name, "run_id": run_id}]
        state = {"seq": seq, "path": base["path"], "deltas": deltas}
    merged.write.mode("overwrite").parquet(_join(root, name))
    manifest = fs.commit_pointer(pointer, run_id, state)
    keep = set()
    for s in (manifest, manifest["prev"] or {}):
        keep.add(s.get("path"))
        keep.update(d["name"] for d in s.get("deltas", []))
    for name in fs.listdir(root):
        if name.startswith(("snap-", "delta-")) and name not in keep:
            fs.delete(_join(root, name))
    return manifest


def prior_kept_ids(
    spark: SparkSession, out_dir: str, exclude_run_id: str
) -> DataFrame | None:
    """Distinct image_ids currently in the kept store, excluding the
    in-flight run's own directory (the existence set for classifying
    create vs update vs delete — gobulk Output.Elements, output.go:12-16)."""
    kept = read_kept(spark, out_dir)
    if kept is None:
        return None
    return (
        kept.where(F.col("run") != exclude_run_id).select("image_id").distinct()
    )


def pause_requested(out_dir: str, spark: SparkSession | None = None) -> bool:
    """gobulk's switcher pause (runner.go Run/Stop): a control file at
    <out>/_control/pause makes the pipeline stop cleanly at the NEXT
    phase boundary; removing it and re-running resumes from the last
    committed checkpoint. Phase boundaries are the safe pause points —
    the analogue of gobulk pausing between container bulks."""
    spark = spark or SparkSession.getActiveSession()
    return Fs(spark, out_dir).exists(_join(out_dir, "_control", "pause"))


def request_pause(out_dir: str, spark: SparkSession | None = None) -> None:
    spark = spark or SparkSession.getActiveSession()
    Fs(spark, out_dir).write_text_atomic(_join(out_dir, "_control", "pause"), "paused")


def intermit_until(out_dir: str, spark: SparkSession | None = None) -> float | None:
    """gobulk's intermittence hook (Format.ExecutionShouldBeIntermitted,
    format.go:56-63, checked runner.go:161-171): the operator can
    postpone EXECUTION — the phase that mutates the output store —
    until a wall-clock time, e.g. to keep bulk writes out of a sink's
    peak-traffic window. File-based like the pause switch: the epoch in
    <out>/_control/intermit_until; absent/unparsable means no postpone.
    Unlike pause (stop and exit), intermittence WAITS in-process and
    proceeds; scan/parse still run, so the postponed store starts from
    staged features the moment the window opens."""
    spark = spark or SparkSession.getActiveSession()
    fs = Fs(spark, out_dir)
    p = _join(out_dir, "_control", "intermit_until")
    if not fs.exists(p):
        return None
    try:
        return float(fs.read_text(p).strip())
    except ValueError:
        return None


def request_intermittence(
    out_dir: str, until_epoch: float, spark: SparkSession | None = None
) -> None:
    spark = spark or SparkSession.getActiveSession()
    Fs(spark, out_dir).write_text_atomic(
        _join(out_dir, "_control", "intermit_until"), repr(float(until_epoch))
    )


def clear_pause(out_dir: str, spark: SparkSession | None = None) -> None:
    spark = spark or SparkSession.getActiveSession()
    Fs(spark, out_dir).delete(_join(out_dir, "_control", "pause"))


def recover_kept_swaps(spark: SparkSession, out_dir: str) -> list[str]:
    """Heal every half-finished kept-directory swap before ANY read.

    A crash between replace_dir's two renames leaves a ``.lang=Y.bak-rid``
    backup inside a run dir holding the only copy of those rows; the
    engine swaps only (run, lang) leaves (delete_keys_from_prior_runs
    is the only replace_dir call site). Called at store-phase entry;
    crash-sim tested.
    """
    fs = Fs(spark, out_dir)
    root = kept_dir(out_dir)
    healed = []
    for name in fs.listdir(root):
        if not name.startswith("run="):
            continue
        for sub in fs.listdir(_join(root, name)):
            if sub.startswith(".lang=") and ".bak-" in sub:
                dst_name = sub[1:].split(".bak-")[0]
                fs.recover_replace_dir(_join(root, name, dst_name), _join(root, name, sub))
                healed.append(f"{name}/{sub}")
    return healed


def delete_keys_from_prior_runs(
    spark: SparkSession, out_dir: str, run_id: str, keys: DataFrame
) -> list[str]:
    """Execute Delete operations: remove ``keys`` (an image_id frame)
    from every prior run's kept directory. Returns the rewritten dirs.

    gobulk executes Deletes before Updates and Creates
    (executor.go:96-113); here a Delete is a rewrite of each affected
    (run=X, lang=Y) LEAF partition minus the keys, staged then
    atomically swapped (fsutil.replace_dir). The rewrite is idempotent
    — re-deleting an absent key is a no-op — so a crashed store phase
    can simply re-run.

    Scale note: with an Iceberg/Delta kept table this whole function is
    one MERGE/DELETE snapshot commit with file-level pruning; the
    partition rewrite is the parquet-dir equivalent. Pruning to the
    affected (run, lang) pairs — not whole runs — bounds the rewritten
    bytes by the partitions that actually hold affected ids (a 1-id
    update in one language rewrites one leaf dir, never a whole run).
    """
    kept = read_kept(spark, out_dir)
    if kept is None:
        return []
    fs = Fs(spark, out_dir)
    keys = keys.select("image_id").distinct()
    affected = sorted(
        (r["run"], r["lang"])
        for r in kept.join(F.broadcast(keys), "image_id", "left_semi")
        .where(F.col("run") != run_id)
        .select("run", "lang")
        .distinct()
        .collect()
    )
    if not affected:
        return []
    # heal half-finished swaps from a crashed earlier attempt BEFORE
    # reading the leaves this rewrite depends on
    for prior, lang in affected:
        fs.recover_replace_dir(
            _join(kept_dir(out_dir), f"run={prior}", f"lang={lang}"),
            _join(kept_dir(out_dir), f"run={prior}", f".lang={lang}.bak-{run_id}"),
        )
    # ONE job rewrites every affected leaf: read the leaf dirs with
    # basePath (run/lang recovered as partition columns), anti-join the
    # keys once, write staged partitionBy(run, lang) — per-leaf
    # sequential jobs paid one Spark job's scheduling + write-commit
    # overhead PER PARTITION (measured 4.7s of a 12.3s incremental run
    # at 5 leaves; unbounded as touched partitions grow)
    staged_root = stage_dir(out_dir, run_id, "rewrite")
    leaf_paths = [
        _join(kept_dir(out_dir), f"run={prior}", f"lang={lang}")
        for prior, lang in affected
    ]
    (
        spark.read.option("basePath", kept_dir(out_dir))
        .parquet(*leaf_paths)
        .join(F.broadcast(keys), "image_id", "left_anti")
        .write.mode("overwrite")
        .options(**KEPT_WRITE_OPTIONS)
        .partitionBy("run", "lang")
        .parquet(staged_root)
    )
    rewritten = []
    for prior, lang in affected:
        dst = _join(kept_dir(out_dir), f"run={prior}", f"lang={lang}")
        staged = _join(staged_root, f"run={prior}", f"lang={lang}")
        backup = _join(kept_dir(out_dir), f"run={prior}", f".lang={lang}.bak-{run_id}")
        if not fs.exists(staged):
            # every row of this leaf was deleted: partitionBy wrote no
            # dir — swap in an empty one (partition discovery skips it)
            fs.mkdirs(staged)
        fs.replace_dir(staged, dst, backup)
        rewritten.append(dst)
    return rewritten
