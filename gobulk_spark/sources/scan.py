"""Source discovery + incremental scan + content-hash dedup.

gobulk analogue: Listener.Listen / Input.Scan / TrackContainers
(listener.go:49-122, input/s3.go:86-154, tracker/gorm.go:114-138).
Spark owns split enumeration and prefetch (the Loader/worker-pool,
loader.go:16-307, is deliberately not ported); what remains of the scan
phase is the *semantics*: skip already-processed rows (marker) and
dedup re-scanned content by hash (the (iteration, repo, identifier,
content_hash) unique key).

Batch runs and stream epochs run the same steps in the same order:
``unprocessed`` (marker), ``audit_duplicates`` (dedup), ``parse_input``.

Scale notes (10^12-row design):
- the dedup decision runs on a 2-column projection (image_id,
  content_hash) — Catalyst prunes the parquet scan to those columns, so
  the expensive binary column is never shuffled for dedup;
- survivor choice is min(image_id) per hash via groupBy → map-side
  partial aggregation shrinks the shuffle to ~unique hashes;
- the resulting duplicate-id list is usually tiny → broadcast anti-join
  removes dups with NO shuffle of the wide rows; above
  ``DUP_BROADCAST_MAX`` rows it falls back to a shuffle join (AQE
  skew-aware).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import lineage
from ..functions.heuristics import content_hash
from ..stages import PARSE_OUTPUT_SCHEMA, make_parse_stage

SOURCE_COLUMNS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

#: dup-list broadcast cap in rows. Not Spark's byte sizing: the other
#: side of the anti-join carries the image bytes, and the row count
#: comes free from the scan-audit write
DUP_BROADCAST_MAX = 5_000_000
#: the parse stage's salted spread: (phash mod 64, |xxhash64(id)| mod 8)
PHASH_BUCKETS, SALT_BUCKETS = 64, 8


def read_source(spark: SparkSession, source_path: str) -> DataFrame:
    """Scan the source table, stamping per-row provenance.

    source_file must be captured on the scan stage itself —
    input_file_name() is undefined after a shuffle boundary.
    """
    return spark.read.parquet(source_path).withColumn(
        "source_file", F.input_file_name()
    )


def with_content_hash(df: DataFrame) -> DataFrame:
    if "content_hash" in df.columns:  # idempotent: scan may pre-compute it
        return df
    return df.withColumn("content_hash", content_hash(F.col("bytes"), F.col("caption")))


def find_duplicates(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Duplicate rows (all but the min-image_id owner per content hash).

    Returns a narrow frame (image_id, content_hash, survivor_id,
    *carry). ``carry`` lets callers keep extra narrow columns (e.g.
    source_file) so downstream audit rows need no join back to the
    source — one fewer scan per run.
    """
    narrow = with_content_hash(df).select("image_id", *carry, "content_hash")
    survivors = narrow.groupBy("content_hash").agg(F.min("image_id").alias("survivor_id"))
    return (
        narrow.join(survivors, "content_hash")
        .where(F.col("image_id") != F.col("survivor_id"))
        .select("image_id", "content_hash", "survivor_id", *carry)
    )


def anti_join_ids(df: DataFrame, ids: DataFrame, broadcast: bool) -> DataFrame:
    """df minus rows whose image_id appears in ids."""
    right = F.broadcast(ids) if broadcast else ids
    return df.join(right.select("image_id"), "image_id", "left_anti")


def audit_duplicates(df: DataFrame, out_dir: str, run_id: str) -> int:
    """Write ``df``'s content duplicates as the scan phase's audit rows
    (action=omit) and return their count, observed on that write — one
    job for the phase. The audit leaf is also the duplicate list: parse
    anti-joins it, and the store step adds its pairs to the marker."""
    obs = Observation(f"scan-{run_id}")
    dups = lineage.audit_columns(
        find_duplicates(df, carry=("source_file",)),
        run_id,
        F.lit("scan"),
        F.lit("omit"),
        F.lit("dedup_content_hash"),
        F.lit("duplicate"),
        F.lit(None).cast("string"),
        content_hash_col=F.col("content_hash"),
    ).observe(obs, F.count(F.lit(1)).alias("n_dups"))
    lineage.write_audit(dups, out_dir, "scan", run_id)
    return obs.get["n_dups"]


def unprocessed(spark: SparkSession, src: DataFrame, out_dir: str, run_id: str) -> DataFrame:
    """``src`` minus the marker's (image_id, content_hash) pairs.

    The marker holds the LATEST hash per id, so changed (or reverted)
    content re-enters as an update/delete (gobulk tracker/gorm.go:441-449).
    Read with THIS run excluded, it shows the pre-run state even after a
    torn advance: a retried run or epoch sees its first attempt's input.
    """
    marker = lineage.processed_keys(spark, out_dir, exclude_run_id=run_id)
    if marker is None:
        return src
    return src.join(marker, ["image_id", "content_hash"], "left_anti")


def parse_input(
    spark: SparkSession, src: DataFrame, out_dir: str, run_id: str, n_dups: int, stop_on_error: bool
) -> DataFrame:
    """The lazy parse frame: anti-join of the scan audit's dup ids ->
    salted repartition -> Arrow parse stage.

    The repartition spreads hot phash buckets ahead of the expensive
    UDF. Its salt is keyed on image_id (not rand()), so retried tasks
    partition identically (gobulk parser.go:92-94's stable re-sort).
    """
    if n_dups:
        dups = spark.read.schema(lineage.AUDIT_SCHEMA).parquet(
            lineage.audit_leaf(out_dir, "scan", run_id)
        )
        src = anti_join_ids(src, dups, broadcast=n_dups <= DUP_BROADCAST_MAX)
    bucket = F.pmod(F.col("phash"), F.lit(PHASH_BUCKETS))
    salt = F.pmod(F.abs(F.xxhash64("image_id")), F.lit(SALT_BUCKETS))
    n_part = spark.sparkContext.defaultParallelism * 2
    return src.repartition(n_part, bucket, salt).mapInPandas(
        make_parse_stage(stop_on_error), schema=PARSE_OUTPUT_SCHEMA
    )
