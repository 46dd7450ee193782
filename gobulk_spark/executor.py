"""Operation classification + ordered execution (the Executor phase).

gobulk's Executor applies planned operations in a fixed order —
Deletes, then Updates, then Creates, then Omits (executor.go:96-113;
op types operation.go:45-54). Its e2e format emits Update when the row
already exists in the output store (runner_test.go:638-702). This
module re-expresses that contract over the kept parquet store:

- classify: a decided row whose image_id already exists in the kept
  store becomes an *update* (if it still passes the rules) or a
  *delete* (if the re-imported content now fails them); unseen ids are
  *create* / *omit* as before. Issues stay issues — a row that cannot
  be parsed is routed, never executed (issue.go:137-146).
- execute: Deletes first (prior kept rows of update∪delete ids are
  removed via staged directory rewrite), then Updates+Creates land
  together as this run's kept append. Omits and issues touch only the
  audit table.

``store`` runs the whole step — classify, execute, audit, metrics,
marker — for a batch run and for a streaming epoch alike: gobulk has one
Executor for both its one-sweep and its listen-loop modes
(runner.go:90-105).

Retry note: on a crashed store-phase retry after the delete step ran,
re-classification sees the prior rows already gone and yields
create/omit instead of update/delete. The kept-store END STATE is
identical (the execution is idempotent); only the audit action label
can downgrade on a torn retry. gobulk has the same property — its
executor re-runs operations against the mutated store.
"""

from __future__ import annotations

import time
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import lineage

#: action -> execution order (gobulk executor.go:96-113)
EXECUTION_ORDER = ("delete", "update", "create", "omit")

KEPT_COLUMNS = (
    "image_id",
    "source_file",
    "content_hash",
    "w",
    "h",
    "fmt",
    "phash",
    "caption",
    "lang",
    "lang_conf",
    "ppl",
)

#: declared kept-store schema — deep-diffed against the live store
#: before any write (gobulk validates its output schema on setup,
#: output/elasticsearch.go:153-158, output/mysql.go:48-76)
KEPT_SCHEMA_DDL = (
    "image_id string, source_file string, content_hash string, "
    "w int, h int, fmt string, phash bigint, caption string, "
    "lang string, lang_conf double, ppl double"
)


def dedup_exact_redeliveries(decided: DataFrame, probe: tuple[int, int]) -> DataFrame:
    """Drop extra copies when the SAME (image_id, content_hash) appears
    more than once in one batch — invisible to scan-phase dedup (both
    rows ARE the min-id survivor) and it would land twice in the kept
    store. gobulk's tracker upsert absorbs these as Conflicted
    (tracker/gorm.go:121).

    Runs on the NARROW post-parse rows (upstream it would shuffle the
    binary column), and only when the probe — (n_rows, n_distinct_keys)
    from the single probe_decided job — finds actual re-deliveries: the
    unconditional dropDuplicates shuffle would both collapse the salted
    partition spread on small batches (AQE coalesces it) and
    re-partition every downstream write for a condition that is almost
    always absent. Equal content_hash means identical content, so
    dropping either copy is lossless."""
    n_rows, n_keys = probe
    if n_rows == n_keys:
        return decided
    return decided.dropDuplicates(["image_id", "content_hash"])


def probe_decided(decided: DataFrame) -> tuple[int, int, int, int, int, int]:
    """One aggregate job answering every pre-store scalar probe:
    (n_rows, n_distinct (id, hash) keys, n update/delete rows,
    n PURE delete rows, n distinct KEPT (id, hash) pairs, n distinct
    KEPT ids).

    The first action over the freshly-persisted decided frame pays the
    full parse compute to populate the cache; folding the re-delivery
    probe and the affected-rows probe into that same job keeps the
    fixed per-epoch job count down (the round-3 streaming profile:
    ~6 fixed jobs made a 7 s epoch floor at 5k rows). n_affected is
    probed PRE-dedup: dropping an exact duplicate copy never changes
    whether any update/delete row exists. The pure-delete count gates
    the Delete verb on merge-capable sinks, where updates are replaced
    inside the merge commit and only true removals still need D. The
    kept pair/id counts gate resolve_conflicting_ids: pairs > ids
    means one id carries two different kept contents in this batch."""
    kept = F.col("action").isin("update", "create")
    n_rows, n_keys, n_affected, n_pure, n_kept_pairs, n_kept_ids = decided.select(
        F.count(F.lit(1)),
        F.count_distinct("image_id", "content_hash"),
        F.sum(F.col("action").isin("update", "delete").cast("long")),
        F.sum((F.col("action") == "delete").cast("long")),
        F.count_distinct(F.when(kept, F.struct("image_id", "content_hash"))),
        F.count_distinct(F.when(kept, F.col("image_id"))),
    ).first()
    return (
        n_rows,
        n_keys,
        int(n_affected or 0),
        int(n_pure or 0),
        int(n_kept_pairs or 0),
        int(n_kept_ids or 0),
    )


def resolve_conflicting_ids(
    decided: DataFrame, probe: tuple[int, int] | None = None
) -> DataFrame:
    """Same image_id arriving with DIFFERENT kept content in ONE batch
    — two source files claiming one id, with no happened-before order
    to arbitrate. The row with the max content_hash survives
    (order-invariant, and the SAME tie-break _merge_marker_frames uses,
    so the marker's surviving pair is the store's surviving row); the
    losers become issue rows, visible in the audit and excluded from
    the kept store. gobulk's tracker absorbs these as Conflicted
    (tracker/gorm.go:121). Without this, a merge-capable sink refuses
    the duplicate-key upsert — correct for a one-shot batch, but a
    poison pill in streaming, where the checkpoint re-delivers the
    identical epoch forever.

    Gated like dedup_exact_redeliveries: the window shuffle is paid
    only when the probe (foldable into probe_decided's single job)
    finds an actual collision.

    ``probe``: precomputed (n_kept_pairs, n_kept_ids)."""
    from pyspark.sql import Window

    kept = F.col("action").isin("update", "create")
    if probe is not None:
        n_pairs, n_ids = probe
    else:
        n_pairs, n_ids = decided.select(
            F.count_distinct(
                F.when(kept, F.struct("image_id", "content_hash"))
            ),
            F.count_distinct(F.when(kept, F.col("image_id"))),
        ).first()
    if int(n_pairs or 0) == int(n_ids or 0):
        return decided
    # kept rows sort first within the id, so ranks 1..k are exactly the
    # competing kept siblings; rank 1 = the max-hash winner. Hashes are
    # distinct within an id here (exact duplicates were collapsed by
    # dedup_exact_redeliveries), so the order is total.
    w = Window.partitionBy("image_id").orderBy(
        kept.desc(), F.col("content_hash").desc()
    )
    out = decided.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_winner_hash", F.first("content_hash").over(w)
    )
    loser = kept & (F.col("_rn") > 1)
    note = F.concat(
        F.lit("conflicting content within one batch: superseded by "),
        F.lit("deterministic sibling "),
        F.col("_winner_hash"),
    )
    return (
        out.withColumn(
            "issue_note", F.when(loser, note).otherwise(F.col("issue_note"))
        )
        .withColumn(
            "keep", F.when(loser, F.lit(False)).otherwise(F.col("keep"))
        )
        .withColumn(
            "action", F.when(loser, F.lit("issue")).otherwise(F.col("action"))
        )
        .drop("_rn", "_winner_hash")
    )


def classify_actions(decided: DataFrame, existing_ids: DataFrame | None) -> DataFrame:
    """Refine the plan-phase action with an existence check.

    ``existing_ids`` is the distinct image_id frame of the current kept
    store (None on a first run — everything stays create/omit/issue).
    The join is left+broadcast when the store is small; at warehouse
    scale this is the shuffle join on the primary key that any upsert
    pays (Iceberg MERGE does the same under the hood).
    """
    if existing_ids is None:
        return decided
    marked = existing_ids.select("image_id").withColumn("_exists", F.lit(1))
    return (
        decided.join(marked, "image_id", "left")
        .withColumn(
            "action",
            F.when(F.col("action") == "issue", "issue")
            .when(F.col("keep") & F.col("_exists").isNotNull(), "update")
            .when(F.col("keep"), "create")
            .when(F.col("_exists").isNotNull(), "delete")
            .otherwise("omit"),
        )
        .drop("_exists")
    )


def execute_deletes(
    spark: SparkSession,
    sink,
    run_id: str,
    decided: DataFrame,
    actions: tuple[str, ...] = ("update", "delete"),
) -> None:
    """The D step: remove prior kept rows for every ``actions`` id
    through the sink's Delete verb (sinks.KeptSink). Merge-capable
    sinks narrow this to ("delete",): updated ids are replaced inside
    the merge commit itself."""
    affected = decided.where(F.col("action").isin(*actions)).select(
        "image_id"
    )
    sink.delete(spark, run_id, affected)


def kept_rows(decided: DataFrame, columns: tuple[str, ...]) -> DataFrame:
    """The U+C step's payload: rows that land in this run's kept dir."""
    return (
        decided.where(F.col("action").isin("update", "create"))
        .withColumn("caption", F.col("scrubbed_caption"))
        .select(*columns)
    )


def failures_frame(spark: SparkSession, failures) -> DataFrame | None:
    """Normalize ``sink.write``'s result to a failures DataFrame (or
    None when nothing failed).

    Every downstream consumer — failure audit, marker exclusion, retry
    staging, manifest withholding — routes through DataFrame joins on
    this frame, never through a driver-side id list: a wholesale epoch
    failure (every row permanent) must not become an ``isin()``
    expression-tree bomb or a driver materialization of row data."""
    from .sinks import FAILURE_SCHEMA_DDL

    if failures is None:
        return None
    if isinstance(failures, DataFrame):
        return failures
    if not failures:
        return None
    rows = [
        (
            f["image_id"],
            f.get("source_file"),
            f.get("content_hash"),
            f.get("payload"),
            f.get("error_msg"),
            f.get("attempts"),
        )
        for f in failures
    ]
    return spark.createDataFrame(rows, FAILURE_SCHEMA_DDL)


def write_failure_audit(failed: DataFrame, run_id: str) -> DataFrame:
    """Audit issue rows for items a transactional sink could not land
    after its retry budget (gobulk's per-item bulk-response issues,
    output/elasticsearch.go:309-320). A pure column projection over the
    failures frame — scales to wholesale failure without touching the
    driver."""
    msg = F.concat(
        # coalesce BOTH parts: concat null-propagates, and a sink that
        # omits error_msg must not null the whole audit message
        F.coalesce(F.col("error_msg"), F.lit("None")),
        F.lit(" (attempts="),
        F.coalesce(F.col("attempts").cast("string"), F.lit("None")),
        F.lit(")"),
    )
    return lineage.audit_columns(
        failed,
        run_id,
        F.lit("execute"),
        F.lit("issue"),
        F.lit("sink_write_failed"),
        F.lit("write_failed"),
        F.lit("output_write"),
        content_hash_col=F.col("content_hash"),
        payload_col=F.col("payload"),
        error_col=msg,
    )


def store_audit_columns(decided: DataFrame, run_id: str) -> DataFrame:
    """Audit projection for the store phase, including issue payloads."""
    is_issue = F.col("action") == "issue"
    return lineage.audit_columns(
        decided,
        run_id,
        # deletes MUTATE the kept store, so they audit as phase=execute
        # like create/update (gobulk's executor runs them,
        # executor.go:96-113); only omit — decided, nothing executed —
        # stays phase=plan
        F.when(is_issue, "parse")
        .when(F.col("action") == "omit", "plan")
        .otherwise("execute"),
        F.col("action"),
        F.col("drop_reason"),
        F.col("drop_reason"),
        F.when(is_issue, "data_parsing").otherwise(F.lit(None).cast("string")),
        content_hash_col=F.col("content_hash"),
        payload_col=F.when(is_issue, F.col("scrubbed_caption")),
        error_col=F.when(is_issue, F.col("issue_note")),
    )


class Stored(NamedTuple):
    """What one store step reports to its caller."""

    #: observed over this run's decided rows: rows_in, kept, dropped,
    #: issues — plus sink_failed, the rows the sink could not land
    totals: dict
    #: the sink's per-item failures (FAILURE_SCHEMA_DDL), or None
    failed: DataFrame | None
    #: the kept rows behind ``failed``, materialized (they outlive the
    #: step's cached/staged ``decided``), or None
    failed_rows: DataFrame | None
    #: per-sub-op wall time, in execution order
    subops: list[dict]


def store(
    spark: SparkSession,
    sink,
    out_dir: str,
    run_id: str,
    decided: DataFrame,
    n_dups: int,
    extra_kept: DataFrame | None = None,
    compact_every: int = 1,
) -> Stored:
    """Execute one run's (or one streaming epoch's) decided rows against
    the kept store, then record them in the audit, metrics and marker.

    ``decided`` is the plan-phase frame (decision_columns); ``n_dups``
    is the scan phase's duplicate count — their pairs, read back from
    the committed scan-audit leaf, join this run's marker advance.
    ``extra_kept`` are KEPT_COLUMNS rows to land alongside this run's
    own (the streaming retry queue): ids decided this run or already
    in the store are dropped, the rest land in the SAME write (the sink
    contract is per-run overwrite, so a second write would replace the
    first) and audit as ``retry_landed``.

    Every write is scoped to ``run_id`` and overwritten on retry, and
    the marker flip comes last, so a crashed step re-runs to the same
    end state (module doc: only an audit label can downgrade)."""
    subops: list[dict] = []

    def _sub(name: str, fn):
        # per-sub-operation tracking (gobulk executor sub-op recursion,
        # E4): a commit manifest listing a sub-op proves it finished
        ts = time.time()
        result = fn()
        subops.append({"op": name, "wall_s": round(time.time() - ts, 3), "ok": True})
        return result

    # heal half-finished kept swaps from a crashed earlier attempt
    # BEFORE anything reads the kept store; then the schema gate: a
    # store written under a different engine version fails fast with
    # the full diff, never silently unioned
    sink.recover(spark)
    sink.validate(spark, KEPT_SCHEMA_DDL)
    # existence check refines create/omit into update/delete for ids
    # already in the kept store (gobulk Update/Delete ops,
    # executor.go:96-113; runner_test.go:638-702)
    existing = sink.existing_ids(spark, exclude_run_id=run_id)
    # the kept, audit, metrics and marker writes all consume this frame:
    # cache it so the classify join and the parse chain run once, and
    # let ONE probe job (the cache's first action) answer every scalar
    # question below
    decided = classify_actions(decided, existing).persist()
    cached = decided  # unpersist on a derived frame is a no-op
    n_rows, n_keys, n_affected, n_pure_del, n_kept_pairs, n_kept_ids = probe_decided(
        decided
    )
    decided = dedup_exact_redeliveries(decided, probe=(n_rows, n_keys))
    # distinct-content siblings of one id: deterministic winner, losers
    # become issue rows — a merge sink would otherwise refuse the
    # duplicate-key upsert (a poison pill for a stream, whose checkpoint
    # re-delivers the failing epoch forever)
    decided = resolve_conflicting_ids(decided, probe=(n_kept_pairs, n_kept_ids))
    # A merge-capable sink replaces updated ids INSIDE the upsert
    # commit, so D narrows to pure deletes — one commit instead of two,
    # and a reader never sees an updated id deleted but not rewritten
    use_merge = hasattr(sink, "merge")
    staged = None
    if n_affected:
        # MATERIALIZE before the delete step: decided's lineage reads
        # the kept files the deletes swap out, and a lost cached
        # partition would recompute from deleted files. With no
        # update/delete rows nothing swaps, and this extra pass is
        # skipped
        staged = lineage.stage_dir(out_dir, run_id, "decided")
        decided.write.mode("overwrite").parquet(staged)
        cached.unpersist()
        decided = spark.read.parquet(staged)
        if not use_merge:
            _sub("delete", lambda: execute_deletes(spark, sink, run_id, decided))
        elif n_pure_del:
            _sub(
                "delete",
                lambda: execute_deletes(spark, sink, run_id, decided, actions=("delete",)),
            )
    if extra_kept is not None:
        extra_kept = extra_kept.join(
            decided.select("image_id").distinct(), "image_id", "left_anti"
        )
        # a fresh existence read: ``existing`` predates the delete step.
        # An id already landed (a torn earlier attempt) must not land
        # twice under a second run scope
        landed = sink.existing_ids(spark, exclude_run_id=run_id)
        if landed is not None:
            extra_kept = extra_kept.join(landed, "image_id", "left_anti")
        # one materialization for the write, audit and marker, severed
        # from the caller's source (a queue it deletes afterwards)
        extra_kept = extra_kept.select(*KEPT_COLUMNS).localCheckpoint(eager=True)
    # --- U + C: this run's kept rows land in the sink's run scope.
    # A transactional backend may return per-item failures it could not
    # land after its retry budget: they audit as issue rows and stay out
    # of the marker, so they re-enter (gobulk issue.go:137-146). Every
    # consumer joins against the failures FRAME — wholesale failure
    # never becomes a driver-side id list or an isin() expression bomb
    rows = kept_rows(decided, KEPT_COLUMNS)
    if extra_kept is not None:
        rows = rows.unionByName(extra_kept)
    failed = None
    if not use_merge:
        failed = failures_frame(spark, _sub("write_kept", lambda: sink.write(rows, run_id)))
    elif n_kept_pairs or (extra_kept is not None and not extra_kept.isEmpty()):
        # an empty merge would grow the log by a no-op commit per idle run
        _sub("merge_kept", lambda: sink.merge(spark, run_id, rows))
    n_failed = failed.count() if failed is not None else 0
    failed_ids = failed_rows = None
    if failed is not None:
        failed_ids = failed.select("image_id").distinct()
        failed_rows = rows.join(failed_ids, "image_id", "left_semi").localCheckpoint(
            eager=True
        )
    # --- O: omits and issues reach only the audit and metrics tables;
    # the run totals ride the audit write as an observation, attached
    # before the unions so they cover exactly the decided rows
    obs = Observation(f"store-{run_id}")
    audit = store_audit_columns(decided, run_id).observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("action").isin("create", "update").cast("long")).alias("kept"),
        F.sum(F.col("action").isin("omit", "delete").cast("long")).alias("dropped"),
        F.sum((F.col("action") == "issue").cast("long")).alias("issues"),
    )
    if failed is not None:
        audit = audit.unionByName(write_failure_audit(failed, run_id))
    if extra_kept is not None:
        if failed_ids is not None:
            extra_kept = extra_kept.join(failed_ids, "image_id", "left_anti")
        audit = audit.unionByName(
            lineage.audit_columns(
                extra_kept,
                run_id,
                F.lit("store"),
                F.lit("retry_landed"),
                F.lit("sink_retry_queue"),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
                content_hash_col=F.col("content_hash"),
            )
        )
    _sub("write_audit", lambda: lineage.write_audit(audit, out_dir, "store", run_id))
    _sub(
        "write_metrics",
        lambda: lineage.write_metrics(
            lineage.partition_metrics(decided, run_id), out_dir, "store", run_id
        ),
    )
    # the compacted marker advances with this run's (id, latest hash)
    # pairs: decided rows the sink landed, landed extra rows and the
    # scan-phase duplicates. The pointer flip is the step's commit point
    new_pairs = decided.select("image_id", "content_hash")
    if failed_ids is not None:
        new_pairs = new_pairs.join(failed_ids, "image_id", "left_anti")
    if extra_kept is not None:
        new_pairs = new_pairs.unionByName(extra_kept.select("image_id", "content_hash"))
    if n_dups:
        new_pairs = new_pairs.unionByName(
            spark.read.parquet(lineage.audit_leaf(out_dir, "scan", run_id)).select(
                "image_id", "content_hash"
            )
        )
    _sub(
        "advance_marker",
        lambda: lineage.advance_marker(
            spark, out_dir, run_id, new_pairs, compact_every=compact_every
        ),
    )
    cached.unpersist()
    if staged:
        # one staged snapshot per run would accumulate under _stage
        from .fsutil import Fs

        Fs(spark, out_dir).delete(staged)
    st = obs.get
    totals = {
        "rows_in": st["rows_in"],
        # sum() observations are None on a zero-row write
        "kept": st["kept"] or 0,
        "dropped": st["dropped"] or 0,
        "issues": st["issues"] or 0,
        "sink_failed": n_failed,
    }
    return Stored(totals, failed, failed_rows, subops)
