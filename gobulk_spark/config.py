"""Pipeline configuration.

gobulk analogue: the Format's knobs (format.go:36-44 bulk sizes,
format.go:132-138 error policy, format.go:20-21 NewIterationOnRestart).
Spark owns task sizing, so the bulk-size knobs are Spark session
settings (Arrow batch size and shuffle partition count, set by
session.get_spark or the job's CLI), not fields here. The parse input's
layout (salted spread, dup-list broadcast cap) is fixed by constants in
sources/scan.py, shared by batch runs and stream epochs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .rules import DEFAULT_THRESHOLDS, Thresholds


@dataclass(frozen=True)
class PipelineConfig:
    source_path: str
    out_dir: str
    run_id: str = "run-1"
    thresholds: Thresholds = field(default_factory=lambda: DEFAULT_THRESHOLDS)
    # error policy: False = route issues to audit and continue (gobulk
    # FormatWithIssuesTracking); True = raise on first issue (StopOnError)
    stop_on_error: bool = False
    # resume from committed phase checkpoints if present (gobulk
    # NewIterationOnRestart=False semantics); False recomputes everything
    resume: bool = True
    # skip rows already processed by earlier runs in the same out_dir
    # (gobulk marker / LastTrackedContainer semantics)
    incremental: bool = False
    # fused throughput mode: parse is not staged to parquet, it fuses
    # into the store job (decided frame cached for the three writes).
    # Resume granularity coarsens from per-phase to per-run.
    fused: bool = False
