"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload full_import --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` (cached under ``.perfbench_work/``), sets up Spark on
``local[<cpus>]`` (launching the JVM), runs one untimed warm-up operation,
then runs the workload's operation back to back (a closed loop, one
client) for ``--seconds`` seconds, checking every output. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

WORKLOADS = ("full_import", "curation_ops")

SIZES = {
    "full": {"image_rows": 2000, "docs": 200, "vecs": 200, "layer_reps": 2},
    "smoke": {"image_rows": 240, "docs": 150, "vecs": 100, "layer_reps": 1},
}

END_TO_END_UNITS = {
    "run_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "keep_drop_f1": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from workloads import SUITE

    units = {
        "session.get_spark_s": "s",
        "deploy.ship_s": "s",
        "models.warm_s": "s",
        "sources.run_scan_set_s": "s",
        "sources.files_scanned": "count",
        "sources.bytes_scanned": "bytes",
        "sources.find_duplicates_s": "s",
        "sources.dups": "count",
        "stages.parse_s": "s",
        "stages.parse_batch_us_per_row": "us",
        "functions.scrub.us_per_row": "us",
        "functions.imaging.decode_us_per_row": "us",
        "models.langid.us_per_row": "us",
        "models.perplexity.us_per_row": "us",
        "functions.textstats.us_per_row": "us",
        "stages.overhead_ratio": "ratio",
        "plan.decide_s": "s",
        "executor.probe_decided_s": "s",
        "executor.execute_deletes_s": "s",
        "executor.actions.create": "count",
        "executor.actions.update": "count",
        "executor.actions.delete": "count",
        "executor.actions.omit": "count",
        "executor.actions.issue": "count",
        "sinks.write_kept_s": "s",
        "sinks.files_written": "count",
        "sinks.bytes_written": "bytes",
        "txlog.merge_s": "s",
        "txlog.commits": "count",
        "txlog.files_added": "count",
        "txlog.files_live": "count",
        "lineage.write_audit_s": "s",
        "lineage.write_metrics_s": "s",
        "lineage.advance_marker_s": "s",
        "lineage.processed_keys_s": "s",
        "lineage.bytes_written": "bytes",
        "pipeline.scan_s": "s",
        "pipeline.parse_s": "s",
        "pipeline.store_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "reimport.run_s": "s",
        "reimport.spark_jobs": "count",
    }
    for q in SUITE:
        units[f"operators.{q}_s"] = "s"
        units[f"operators.{q}.rows_out"] = "count"
    units["trace.overhead_s"] = "s"
    return units


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the engine's default driver heap is sized for a large host. 1 GiB
    # holds these inputs; with 2 GiB the JVM's RSS kept growing from one
    # operation to the next and peak_rss_mb spread about twice as wide
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
    java_opts = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["SPARK_SUBMIT_OPTS"] = java_opts


def _spark_conf() -> dict[str, str]:
    return {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error; standard output carries the result."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _warm_worker(_):
    """The first Python-worker task: import the package, fit the models."""
    import pandas as pd

    from gobulk_spark.models import langid, perplexity

    langid.profile()
    perplexity.score(pd.Series(["warm up"]))
    yield 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, smoke: bool):
        import procstat
        import tracing
        import workloads

        self.sizes = SIZES["smoke" if smoke else "full"]
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.rec = tracing.Recorder()
        self.sampler = procstat.Sampler()
        self.spark = None
        self.workload = workloads.WORKLOADS[workload](str(WORK), seed, self.sizes, trace)
        self.tag = f"{workload}-{seed}"

    # -- set-up ----------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """SparkSession start (it launches the JVM), deploy.ship, and the
        first Python-worker task: what every spark-submit pays."""
        from gobulk_spark import deploy
        from gobulk_spark.session import get_spark

        (WORK / "pyfiles").mkdir(exist_ok=True)
        pyzip = deploy.write_zip(
            deploy.package_payload(str(ROOT / "gobulk_spark")),
            str(WORK / "pyfiles" / "gobulk_spark.zip"),
        )
        t0 = time.perf_counter()
        spark = get_spark(self.master, app_name="perfbench", extra_conf=_spark_conf())
        self.spark = spark
        t1 = time.perf_counter()
        # the spark-submit --py-files path: a prebuilt package zip, which
        # ship() detects; its own fallback would write outside the checkout
        spark.sparkContext.addPyFile(pyzip)
        deploy.ship(spark)
        t2 = time.perf_counter()
        sc = spark.sparkContext
        sc.parallelize(range(self.cores), self.cores).mapPartitions(_warm_worker).collect()
        t3 = time.perf_counter()
        sc.setLogLevel("ERROR")
        return {
            "session.get_spark_s": t1 - t0,
            "deploy.ship_s": t2 - t1,
            "models.warm_s": t3 - t2,
            "setup_s": t3 - t0,
        }

    # -- measurement -----------------------------------------------------

    def measure(self) -> dict:
        import tracing
        import workloads

        setup = self.setup()
        log(f"set-up done: {setup}")
        ok, f1 = self.workload.warmup(self.spark)
        log(f"warm-up done: ok={ok} f1={f1}")
        attempted, failed = 1, int(not ok)
        f1s = [f1]
        plain, traced = [], []
        order = []  # (traced, run_s) of the correct operations, in order
        deadline = time.perf_counter() + self.seconds
        i = 0

        def more() -> bool:
            if time.perf_counter() < deadline:
                return True
            # past the deadline a traced run goes on until it has run a
            # traced operation and ends on an untraced one, unless
            # operations keep failing
            return self.trace and (i < 3 or i % 2 == 0) and i < 7

        # traced operations alternate with untraced ones on the same JVM;
        # operations still speed up as the JIT warms, and bracketing
        # each traced one keeps that drift out of the overhead estimate
        while more():
            rec = self.rec if self.trace and i % 2 == 1 else None
            if rec is not None:
                rec.trace_id += 1
            with tracing.spark_counts(self.spark.sparkContext, f"run-{i}") as counts:
                with self.sampler.window() as usage:
                    r = workloads.safe_run(self.workload, self.spark, rec)
            i += 1
            attempted += 1
            log(f"run {i} traced={rec is not None} ok={r['ok']} run_s={r['run_s']}")
            if not r["ok"]:
                failed += 1
                continue
            r.update(usage)
            r["layers"].update(counts)
            (traced if rec is not None else plain).append(r)
            order.append((rec is not None, r["run_s"]))
            f1s.append(r["f1"])
        if not plain or (self.trace and not traced):
            raise RuntimeError(f"{self.tag}: every timed operation failed")
        if self.trace:
            metrics = self._layer_metrics(setup, traced, order)
            if hasattr(self.workload, "extra_layers"):
                ok, extra = self.workload.extra_layers(
                    self.spark, self.cores, self.sizes["layer_reps"], self.rec
                )
                attempted, failed = attempted + 1, failed + (not ok)
                metrics.update(self._with_units(extra))
            self.rec.dump(str(WORK / f"trace-{self.tag}.json"))
        else:
            metrics = self._end_to_end(setup, plain, statistics.median(f1s))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def _end_to_end(self, setup: dict, runs: list[dict], f1: float) -> dict:
        run_s = statistics.median(r["run_s"] for r in runs)
        values = {
            "run_s": run_s,
            "rows_per_s": self.workload.rows / run_s,
            "cpu_s": statistics.median(r["cpu_s"] for r in runs),
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in runs),
            "setup_s": setup["setup_s"],
            "keep_drop_f1": f1,
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    def _layer_metrics(self, setup: dict, traced: list[dict], order: list[tuple]) -> dict:
        values = dict.fromkeys(per_layer_units(), 0.0)
        for k in ("session.get_spark_s", "deploy.ship_s", "models.warm_s"):
            values[k] = setup[k]
        for k in traced[0]["layers"]:
            values[k] = statistics.median(r["layers"].get(k, 0.0) for r in traced)
        # each traced operation against the mean of the untraced ones
        # just before and after it, which cancels the JIT's drift
        gaps = [
            t - (u0 + u1) / 2
            for (p0, u0), (p1, t), (p2, u1) in zip(order, order[1:], order[2:])
            if p1 and not p0 and not p2
        ]
        if not gaps:  # failed operations broke every bracket
            gaps = [
                statistics.median(t for p, t in order if p)
                - statistics.median(u for p, u in order if not p)
            ]
        values["trace.overhead_s"] = statistics.median(gaps)
        return self._with_units(values)

    @staticmethod
    def _with_units(values: dict) -> dict:
        units = per_layer_units()
        unknown = set(values) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from the unit table: {sorted(unknown)}")
        return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}

    # -- teardown --------------------------------------------------------

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for every process this run
        started to exit."""
        import procstat

        self.sampler.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = set(procstat.tree()) - {os.getpid()}
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
        procstat.stop_tree(children)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for a quick harness check")
    a = p.parse_args(argv)
    if not (ROOT / "gobulk_spark" / "pipeline.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no gobulk_spark program under {ROOT}", file=sys.stderr)
        return 2
    _isolate_environment()
    sys.path.insert(0, str(ROOT))
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), a.smoke)
    try:
        result = bench.measure()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
