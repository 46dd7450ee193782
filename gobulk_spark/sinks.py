"""Pluggable kept-store sinks — gobulk's Output interface seam.

gobulk defines Output with Elements (existence lookup) and
Create/Update/Delete execution (output.go:12-16) and ships ES and
GORM/MySQL backends (output/elasticsearch.go:231-320,
output/gorm.go:114-152). The engine here is sink-agnostic through the
same verbs:

- validate      — schema check against the live store BEFORE any write
                  (gobulk deep-equal-diffs the declared schema on setup,
                  output/elasticsearch.go:153-158, output/mysql.go:48-76)
- recover       — heal half-finished writes before any read
- existing_ids  — Output.Elements: which incoming ids already exist
- write         — Create/Update: land a run's kept rows; returns
                  per-item FAILURES a transactional backend could not
                  land after retries (the engine routes them to the
                  audit as issue rows and keeps them OUT of the marker,
                  so they re-enter next run — gobulk records failed ops
                  as issues, issue.go:137-146)
- delete        — Delete: remove keys from prior runs' data

ParquetKeptSink is the default (run=<id>/lang=<l> directory layout,
atomic swap deletes via lineage/fsutil; write is all-or-nothing, task
retry is Spark's tier, so it never returns partial failures).
MemoryKeptSink proves the seam with a second storage-free backend;
UnreliableMemoryKeptSink is the third — a transactional per-item
backend with injectable faults exercising the ES retry contract
(429-backoff x15, conflict-retry x3, delete-404-is-success,
output/elasticsearch.go:309-320,343-360). PartitionedRetrySink is the
fourth and the PRODUCTION shape of that contract: the same retry loop
run executor-side inside one mapInPandas job, the landed rows written
by ParquetKeptSink.write and the failures returned as a frame — row
data never crosses the driver.
txlog.TxLogKeptSink is the fifth: a from-scratch transaction-log table
format (atomic rename commits, snapshot isolation, MERGE-shaped
deletes, time travel) standing in for the environment-gated
Iceberg/Delta backend. The e2e suite passes against all of them
(tests/test_sinks.py, tests/test_retry_sink.py,
tests/test_partitioned_sink.py, tests/test_txlog_sink.py).
"""

from __future__ import annotations

import time
from typing import Callable, Protocol

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import lineage


class SinkSchemaMismatch(Exception):
    """The live store's schema deep-diffs against the declared one."""


#: schema of a sink's per-item write failures, whichever form the
#: backend returns them in (list-of-dicts from the driver-side test
#: doubles; a DataFrame from PartitionedRetrySink)
FAILURE_SCHEMA_DDL = (
    "image_id string, source_file string, content_hash string, "
    "payload string, error_msg string, attempts int"
)


def _put_with_retries(
    item: dict,
    fault: Callable[[dict, int], str | None],
    max_transient: int,
    max_conflict: int,
    backoff_s: float,
    log: Callable[[str, int, str], None] | None = None,
) -> tuple[bool, str | None, int]:
    """One item through the full ES-shaped retry budget: 429-shaped
    transients retry up to ``max_transient`` times with backoff,
    409-shaped conflicts up to ``max_conflict``, anything else fails
    immediately (output/elasticsearch.go:309-320,343-360). Returns
    (landed, error_msg, attempts). Pure function of the fault script —
    runs identically on the driver (UnreliableMemoryKeptSink) and
    inside an executor partition (PartitionedRetrySink)."""
    transient = conflict = 0
    attempt = 0
    while True:
        attempt += 1
        status = fault(item, attempt)
        if log is not None:
            log(item["image_id"], attempt, status or "ok")
        if status is None:
            return True, None, attempt
        if status == "transient":
            transient += 1
            if transient > max_transient:
                return False, "transient failure: retries exhausted", attempt
            time.sleep(backoff_s)
        elif status == "conflict":
            conflict += 1
            if conflict > max_conflict:
                return False, "version conflict: retries exhausted", attempt
        else:  # permanent — no retry, straight to the issue row
            return False, f"permanent failure: {status}", attempt


class KeptSink(Protocol):
    def validate(self, spark: SparkSession, schema_ddl: str) -> None: ...

    def recover(self, spark: SparkSession) -> None: ...

    def existing_ids(
        self, spark: SparkSession, exclude_run_id: str
    ) -> DataFrame | None: ...

    def write(self, df: DataFrame, run_id: str) -> list[dict] | None: ...

    def delete(self, spark: SparkSession, run_id: str, keys: DataFrame) -> None: ...

    def read(self, spark: SparkSession) -> DataFrame | None: ...


def _diff_schema(declared: dict[str, str], live: dict[str, str]) -> str | None:
    """Deep field-by-field diff (name -> normalized type); None if equal.

    The live store may carry extra PHYSICAL columns the layout adds
    (e.g. the run= partition key) — those are declared by the caller.
    Anything else — missing, extra, or re-typed — is a hard setup
    error, reported in full so the operator sees every divergence at
    once, not one per run (gobulk prints the whole diff,
    output/elasticsearch.go:153-158)."""
    problems = []
    for name, typ in declared.items():
        if name not in live:
            problems.append(f"missing column: {name} {typ}")
        elif live[name] != typ:
            problems.append(f"type mismatch: {name} is {live[name]}, declared {typ}")
    for name in live:
        if name not in declared:
            problems.append(f"unexpected column: {name} {live[name]}")
    return "; ".join(problems) if problems else None


def _ddl_to_fields(spark: SparkSession, ddl: str) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in StructType.fromDDL(ddl)}


class ParquetKeptSink:
    """Default sink: per-run parquet dirs partitioned by lang, deletes
    as staged rewrite + atomic swap (Iceberg-MERGE shaped)."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def validate(self, spark: SparkSession, schema_ddl: str) -> None:
        """Fail fast (with the full diff) if the live kept store was
        written under a different schema — BEFORE any write, so a store
        from an older engine version is rejected instead of silently
        unioned by the next read."""
        live_df = lineage.read_kept(spark, self.out_dir)
        if live_df is None:
            return  # empty store: this run establishes the schema
        declared = _ddl_to_fields(spark, schema_ddl)
        declared["run"] = "string"  # physical partition key of the layout
        live = {f.name: f.dataType.simpleString() for f in live_df.schema.fields}
        diff = _diff_schema(declared, live)
        if diff:
            raise SinkSchemaMismatch(
                f"kept store at {lineage.kept_dir(self.out_dir)} does not "
                f"match the declared schema: {diff}"
            )

    def recover(self, spark: SparkSession) -> None:
        lineage.recover_kept_swaps(spark, self.out_dir)

    def existing_ids(self, spark: SparkSession, exclude_run_id: str) -> DataFrame | None:
        return lineage.prior_kept_ids(spark, self.out_dir, exclude_run_id)

    def write(self, df: DataFrame, run_id: str) -> list[dict] | None:
        # all-or-nothing: a failed Spark write raises (task retry is the
        # executor tier), so there are never per-item partial failures
        df.write.mode("overwrite").options(**lineage.KEPT_WRITE_OPTIONS).partitionBy(
            "lang"
        ).parquet(f"{lineage.kept_dir(self.out_dir)}/run={run_id}")
        return None

    def delete(self, spark: SparkSession, run_id: str, keys: DataFrame) -> None:
        lineage.delete_keys_from_prior_runs(spark, self.out_dir, run_id, keys)

    def read(self, spark: SparkSession) -> DataFrame | None:
        return lineage.read_kept(spark, self.out_dir)


class MemoryKeptSink:
    """In-memory sink (tests / notebooks): per-run pandas frames.

    Collects to the driver — NOT a scale path; it exists to prove the
    Output seam with a second, storage-free backend (gobulk's test
    output analogue, runner_test.go's in-memory output)."""

    def __init__(self):
        self.runs: dict[str, pd.DataFrame] = {}

    def validate(self, spark: SparkSession, schema_ddl: str) -> None:
        declared = _ddl_to_fields(spark, schema_ddl)
        for rid, f in self.runs.items():
            if not f.empty and (missing := set(declared) - set(f.columns)):
                raise SinkSchemaMismatch(
                    f"run {rid} lacks declared columns {sorted(missing)}"
                )

    def recover(self, spark: SparkSession) -> None:
        pass  # writes are atomic dict assignments

    def existing_ids(self, spark: SparkSession, exclude_run_id: str) -> DataFrame | None:
        frames = [df for rid, df in self.runs.items() if rid != exclude_run_id]
        # a prior run that kept ZERO rows leaves an empty frame —
        # createDataFrame cannot infer a schema from it
        if not frames or all(f.empty for f in frames):
            return None
        ids = pd.concat(frames)["image_id"].drop_duplicates()
        return spark.createDataFrame(ids.to_frame(), schema="image_id string")

    def write(self, df: DataFrame, run_id: str) -> list[dict] | None:
        self.runs[run_id] = df.toPandas()
        return None

    def delete(self, spark: SparkSession, run_id: str, keys: DataFrame) -> None:
        drop = {r["image_id"] for r in keys.select("image_id").distinct().collect()}
        for rid in list(self.runs):
            if rid != run_id:
                f = self.runs[rid]
                self.runs[rid] = f[~f["image_id"].isin(drop)].reset_index(drop=True)

    def read(self, spark: SparkSession) -> DataFrame | None:
        frames = [df.assign(run=rid) for rid, df in self.runs.items() if not df.empty]
        if not frames:
            return None
        return spark.createDataFrame(pd.concat(frames, ignore_index=True))


class UnreliableMemoryKeptSink(MemoryKeptSink):
    """Transactional per-item backend with injectable faults — the third
    sink, proving the remote-store retry contract without any jars.

    gobulk's Elasticsearch output retries a 429'd bulk chunk up to 15
    times with backoff, retries version-conflicted items 3 times, treats
    delete-of-absent (404) as success, and records everything else as a
    per-item issue with the payload attached
    (output/elasticsearch.go:309-320,343-360; gorm.go:201-218 detects
    0-rows-affected). ``fault(item, attempt)`` returns None (ok),
    "transient" (429-shaped: whole remaining chunk retried),
    "conflict" (409-shaped: that item retried), or "permanent"
    (400-shaped: no retry) — tests script failure sequences with it.

    Scale note: this is deliberately a driver-side test double (like
    MemoryKeptSink) — useful because its ``attempt_log`` and driver-side
    fault closures make retry sequences scriptable and inspectable.
    PartitionedRetrySink below is the production form: the SAME
    ``_put_with_retries`` loop run inside each executor partition.
    """

    def __init__(
        self,
        fault: Callable[[dict, int], str | None] | None = None,
        max_transient_retries: int = 15,
        max_conflict_retries: int = 3,
        backoff_s: float = 0.0,
    ):
        super().__init__()
        self.fault = fault or (lambda item, attempt: None)
        self.max_transient_retries = max_transient_retries
        self.max_conflict_retries = max_conflict_retries
        self.backoff_s = backoff_s
        self.attempt_log: list[tuple[str, int, str]] = []

    def _put(self, item: dict) -> tuple[bool, str | None, int]:
        """(landed, error_msg, attempts) after the full retry budget."""
        return _put_with_retries(
            item,
            self.fault,
            self.max_transient_retries,
            self.max_conflict_retries,
            self.backoff_s,
            log=lambda i, a, s: self.attempt_log.append((i, a, s)),
        )

    def write(self, df: DataFrame, run_id: str) -> list[dict] | None:
        items = df.toPandas()
        landed, failures = [], []
        for item in items.to_dict("records"):
            ok, err, attempts = self._put(item)
            if ok:
                landed.append(item)
            else:
                failures.append(
                    {
                        "image_id": item["image_id"],
                        "source_file": item.get("source_file"),
                        "content_hash": item.get("content_hash"),
                        "error_msg": err,
                        # NULL captions stay NULL, matching the
                        # executor-side failures-frame contract
                        "payload": (
                            None
                            if item.get("caption") is None
                            else str(item["caption"])
                        ),
                        "attempts": attempts,
                    }
                )
        # rebuild with the source frame's dtypes: the dict round-trip
        # widens int32->int64, and the seam contract is byte-identical
        # kept rows across backends (tests compare frames exactly)
        self.runs[run_id] = (
            pd.DataFrame(landed, columns=items.columns).astype(
                items.dtypes.to_dict()
            )
            if landed
            else items.iloc[0:0]
        )
        return failures or None

    def delete(self, spark: SparkSession, run_id: str, keys: DataFrame) -> None:
        # delete-of-absent is SUCCESS (ES 404 contract) — the base
        # implementation's isin() filter is naturally idempotent; this
        # override exists to document the contract and log attempts
        for r in keys.select("image_id").distinct().collect():
            self.attempt_log.append((r["image_id"], 1, "delete"))
        super().delete(spark, run_id, keys)


class PartitionedRetrySink(ParquetKeptSink):
    """Production-shaped remote-store sink: the ES retry contract run
    EXECUTOR-SIDE, each partition retrying its own chunk.

    gobulk's Elasticsearch output retries bulk chunks where the data
    is (output/elasticsearch.go:231-320,343-360); the driver-side
    UnreliableMemoryKeptSink proves that contract as a test double and
    documents this class as its production shape. ``write`` is two
    Spark jobs:

    1. one ``mapInPandas`` runs the bounded retry loop (transient
       x``max_transient_retries`` + backoff, conflict
       x``max_conflict_retries``, permanent -> fail) over each row and
       tags it with the outcome; ``localCheckpoint`` materializes the
       tagged rows once, so every row is tried exactly once;
    2. the landed rows go through the inherited ``ParquetKeptSink.write``
       (run=<rid>/lang=<l> layout, Spark's committer, any Hadoop URI),
       which also counts the failures as an observation.

    The failures frame is a projection of the same checkpoint, so the
    kept files and the failures always agree. Row data never
    round-trips through the driver (pinned by
    tests/test_partitioned_sink.py poisoning collect/toPandas).

    validate/recover/existing_ids/delete/read are inherited: the
    storage is the same kept store; only the write path differs."""

    def __init__(
        self,
        out_dir: str,
        fault: Callable[[dict, int], str | None] | None = None,
        max_transient_retries: int = 15,
        max_conflict_retries: int = 3,
        backoff_s: float = 0.0,
    ):
        super().__init__(out_dir)
        self.fault = fault or (lambda item, attempt: None)
        self.max_transient_retries = max_transient_retries
        self.max_conflict_retries = max_conflict_retries
        self.backoff_s = backoff_s

    def write(self, df: DataFrame, run_id: str) -> DataFrame | None:
        retry = (
            self.fault,
            self.max_transient_retries,
            self.max_conflict_retries,
            self.backoff_s,
        )

        def put(batches):
            for batch in batches:
                outcome = pd.DataFrame(
                    [_put_with_retries(item, *retry) for item in batch.to_dict("records")],
                    columns=["_ok", "_err", "_attempts"],
                    index=batch.index,
                )
                yield batch.join(outcome)

        # a copy of the field list: add() appends in place, and
        # df.schema is cached on the frame
        schema = (
            StructType(list(df.schema))
            .add("_ok", "boolean")
            .add("_err", "string")
            .add("_attempts", "integer")
        )
        # one materialization: the retry loop runs once per row, and the
        # landing write and the failures frame read the same outcomes
        tagged = df.mapInPandas(put, schema=schema).localCheckpoint(eager=True)
        obs = Observation(f"sink-{run_id}")
        landed = tagged.observe(obs, F.count_if(~F.col("_ok")).alias("n_failed"))
        super().write(landed.where("_ok").select(*df.columns), run_id)
        if not obs.get["n_failed"]:
            return None
        return tagged.where(~F.col("_ok")).select(
            "image_id",
            "source_file",
            "content_hash",
            F.col("caption").cast("string").alias("payload"),
            F.col("_err").alias("error_msg"),
            F.col("_attempts").alias("attempts"),
        )
