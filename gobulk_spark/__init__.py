"""gobulk_spark — a PySpark-native bulk-ingest quality-filter engine.

A from-scratch reimplementation of the *contracts* of the gobulk ETL
framework (reference: funktionslust/gobulk, Go) as an idiomatic Spark
DataFrame job over tables of image+caption pairs:

- source -> process -> validate -> store phase model
  (gobulk ``runner.go:150-226``: Reader -> Parser -> Planner -> Executor)
- per-row traceability: lineage + issue rows in an audit table
  (gobulk ``issue.go:52-64``, ``operation.go:9-20``)
- content-hash dedup on ingest (gobulk ``tracker/gorm.go:114-138``)
- checkpointed, resumable phase boundaries
  (gobulk ``iteration.go:10-31``, ``tracker/gorm.go:211-244``)
- per-partition metrics (gobulk ``metrics_tracker.go:4-14``)

The execution engine is Spark itself: scheduling, prefetch, retries and
parallelism (gobulk's Runner/Listener/Loader/worker-pool machinery,
``loader.go``, ``workers_pool.go``) are deliberately NOT ported — Catalyst
and the Spark scheduler own them. Everything data-parallel is expressed
as DataFrame operations; Python appears only inside Arrow-vectorized
pandas stages (model scoring, image decode, regex scrub).
"""

from .deploy import gate_zip_invalidation

__version__ = "0.1.0"

# on import, so the first UDF unpickle in each Python worker installs it
gate_zip_invalidation()
