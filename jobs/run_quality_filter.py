"""spark-submit entrypoint for the quality-filter pipeline.

Usage:
    spark-submit --py-files gobulk_spark.zip jobs/run_quality_filter.py \
        --source /path/pairs.parquet --out /path/out --run-id run-1 \
        [--incremental] [--stop-on-error] [--streaming]

The SparkSession comes from spark-submit's conf (master, executors); the
job only sets analysis-level conf (AQE, Arrow batch size, UTC).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

# driver-side bootstrap: running from the repo without --py-files puts
# jobs/ (not the repo root) on sys.path; deployed runs get the package
# from the --py-files zip or deploy.ship()
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import SparkSession


def _parse_predicate(text: str) -> tuple:
    """'col<op>literal' -> (col, op, typed_literal); numeric literals
    auto-type so stats comparisons stay same-typed."""
    for op in ("<=", ">=", "=", "<", ">"):
        if op in text:
            col, raw = text.split(op, 1)
            val: object = raw.strip()
            try:
                val = int(val)
            except ValueError:
                try:
                    val = float(val)
                except ValueError:
                    pass
            return (col.strip(), op, val)
    raise SystemExit(f"unparseable --delete-where predicate: {text!r}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source")  # required unless --pause/--unpause
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument("--stop-on-error", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--fused", action="store_true",
                    help="throughput mode: parse fuses into store (no staging)")
    ap.add_argument("--pause", action="store_true",
                    help="request a pause at the next phase boundary and exit")
    ap.add_argument("--unpause", action="store_true",
                    help="clear a pause request and exit")
    ap.add_argument("--optimize", action="store_true",
                    help="maintenance: bin-pack the txlog kept store's "
                         "small files into ~target-file-mb ones and exit")
    ap.add_argument("--vacuum", action="store_true",
                    help="maintenance: reclaim txlog data files dead at "
                         "the latest version (ends time travel) and exit")
    ap.add_argument("--target-file-mb", type=int, default=128,
                    help="--optimize packing target per output file")
    ap.add_argument("--cluster-by", type=str, default=None,
                    help="--optimize: comma-separated columns for a "
                         "linearized sort-cluster rewrite (1-D pruning)")
    ap.add_argument("--zorder-by", type=str, default=None,
                    help="--optimize: comma-separated NUMERIC columns "
                         "for a Morton-order rewrite (every listed "
                         "column prunes)")
    ap.add_argument("--retain-last", type=int, default=0,
                    help="--vacuum: keep the last N+1 versions "
                         "time-travelable (0 = latest only)")
    ap.add_argument("--history", action="store_true",
                    help="maintenance: print the txlog kept store's "
                         "commit history (version, op, run_id, files "
                         "added/removed) as JSON and exit")
    ap.add_argument("--restore", type=int, default=None,
                    help="maintenance: roll the txlog kept store back "
                         "to this version (one metadata-only commit; "
                         "change feed shows the exact row delta)")
    ap.add_argument("--delete-where", type=str, default=None,
                    help="maintenance: predicate delete on the txlog "
                         "kept store, e.g. 'lang=und' or 'ppl>900' "
                         "(ops: = < <= > >=; numeric literals are "
                         "auto-typed) — stats-provable whole files "
                         "drop metadata-only, stragglers are rewritten")
    ap.add_argument("--arrow-batch-rows", type=int, default=2048)
    ap.add_argument("--sink", choices=["parquet", "partitioned-retry", "txlog"],
                    default="parquet",
                    help="kept-store backend: parquet (Spark-written, "
                         "all-or-nothing), partitioned-retry "
                         "(executor-side per-item retry loop with staged "
                         "failure capture — the remote-store shape), or "
                         "txlog (transaction-log table format: atomic "
                         "commits, snapshot isolation, MERGE-shaped "
                         "deletes, time travel)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName(f"gobulk-quality-filter-{args.run_id}").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(args.arrow_batch_rows)
    )

    from gobulk_spark import lineage
    from gobulk_spark.config import PipelineConfig

    maintenance = (args.pause or args.unpause or args.optimize or args.vacuum
                   or args.delete_where or args.history
                   or args.restore is not None)
    if not maintenance and not args.source:
        ap.error(
            "--source is required unless --pause/--unpause/--optimize/"
            "--vacuum/--delete-where/--history/--restore"
        )

    if (args.optimize or args.vacuum or args.delete_where or args.history
            or args.restore is not None):
        from gobulk_spark.txlog import TxLogKeptSink

        tx = TxLogKeptSink(args.out)
        out = {"out": args.out}
        if args.restore is not None:
            out["restored_to"] = args.restore
            out["restore_version"] = tx.restore(
                spark, f"cli-restore-{uuid.uuid4().hex[:8]}", args.restore
            )
        if args.delete_where:
            out["delete_where"] = tx.delete_where(
                spark,
                f"cli-delete-{uuid.uuid4().hex[:8]}",
                [_parse_predicate(args.delete_where)],
            )
        if args.optimize:
            out["compacted_files"] = tx.optimize(
                spark,
                target_file_bytes=args.target_file_mb << 20,
                cluster_by=(
                    args.cluster_by.split(",") if args.cluster_by else None
                ),
                zorder_by=(
                    args.zorder_by.split(",") if args.zorder_by else None
                ),
            )
        if args.vacuum:
            out["vacuumed_files"] = tx.vacuum(
                spark, retain_last=args.retain_last
            )
        if args.history:
            out["history"] = [
                {
                    "version": e["version"],
                    "op": e["op"],
                    "run_id": e.get("run_id"),
                    "added": len(e.get("add", [])),
                    "removed": len(e.get("remove", [])),
                    **(
                        {"predicate": e["predicate"]}
                        if "predicate" in e
                        else {}
                    ),
                }
                for e in tx.history(spark)
            ]
        print(json.dumps(out))
        spark.stop()
        return

    if args.pause or args.unpause:
        (lineage.request_pause if args.pause else lineage.clear_pause)(args.out, spark)
        print(json.dumps({"out": args.out, "pause": bool(args.pause)}))
        spark.stop()
        return

    cfg = PipelineConfig(
        source_path=args.source,
        out_dir=args.out,
        run_id=args.run_id,
        incremental=args.incremental,
        stop_on_error=args.stop_on_error,
        resume=not args.no_resume,
        fused=args.fused,
    )
    sink = None
    if args.sink == "partitioned-retry":
        from gobulk_spark.sinks import PartitionedRetrySink

        sink = PartitionedRetrySink(args.out)
    elif args.sink == "txlog":
        from gobulk_spark.txlog import TxLogKeptSink

        sink = TxLogKeptSink(args.out)
    if args.streaming:
        from gobulk_spark.streaming.incremental import run_streaming_ingest

        run_streaming_ingest(spark, cfg, args.source, sink=sink)
        print(json.dumps({"run_id": args.run_id, "mode": "streaming", "status": "done"}))
    else:
        from gobulk_spark.pipeline import run_pipeline

        summary = run_pipeline(spark, cfg, sink=sink)
        print(json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
