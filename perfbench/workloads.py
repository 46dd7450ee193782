"""The benchmark's workloads: one timed operation each, with its checks.

``full_import``  one fresh-``out_dir`` ``run_pipeline`` over a sharded
                 image+caption corpus, checked against the reference
                 labeler.
``curation_ops`` a fixed suite of ``__spark_entry__`` operators over
                 generated documents/embeddings, checked against DuckDB.

Each workload's ``run`` times one operation and checks its output; the
traced variant also records per-layer spans and counts. ``Reimport`` is
the incremental re-import a traced ``full_import`` run ends with.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import inputs
import tracing

_PHASES = ("scan", "parse", "store")


def _tree_size(*dirs: str) -> tuple[int, int]:
    """(data files, bytes) under ``dirs``; hidden/_ files (checksums,
    _SUCCESS) count toward bytes only."""
    files = size = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += not n.startswith((".", "_"))
    return files, size


def _f1(pred: pd.Series, truth: pd.Series) -> float:
    tp = int((pred & truth).sum())
    fp = int((pred & ~truth).sum())
    fn = int((~pred & truth).sum())
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


class FullImport:
    """A fresh-``out_dir`` ``run_pipeline`` with the default staged,
    checkpointed phases and ``ParquetKeptSink``."""

    name = "full_import"

    def __init__(self, work: str, seed: int, sizes: dict, trace: bool):
        self.out = os.path.join(work, "out", self.name)
        d = inputs.image_corpus(os.path.join(work, "inputs"), sizes["image_rows"], seed)
        self.source = os.path.join(d, "source")
        self.golden = pd.read_parquet(os.path.join(d, "golden.parquet"))
        self.rows = len(self.golden)
        self.reimport = Reimport(work, seed, sizes) if trace else None

    # -- one timed operation -------------------------------------------

    def run(self, spark, rec: tracing.Recorder | None = None) -> dict:
        from gobulk_spark.config import PipelineConfig
        from gobulk_spark.pipeline import run_pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        cfg = PipelineConfig(source_path=self.source, out_dir=self.out, run_id="r1")
        if rec is None:
            t0 = time.perf_counter()
            summary = run_pipeline(spark, cfg)
            run_s = time.perf_counter() - t0
            layers = {}
        else:
            with tracing.patched(self._patches(rec)), rec.span("pipeline.run") as root:
                summary = run_pipeline(spark, cfg)
            run_s = root["end"] - root["start"]
            layers = self._layers(rec, summary)
        ok, f1 = self.check(summary)
        return {"run_s": run_s, "ok": ok, "f1": f1, "layers": layers}

    def warmup(self, spark) -> tuple[bool, float]:
        r = self.run(spark)
        return r["ok"], r["f1"]

    def check(self, summary: dict) -> tuple[bool, float]:
        """Keep/drop F1 against the golden labels, plus exact scrubbed
        captions, one audit row per input row, kept == audited creates."""
        from gobulk_spark import lineage

        audit = pads.dataset(lineage.audit_dir(self.out), partitioning="hive")
        audit = audit.to_table(columns=["image_id", "action"]).to_pandas()
        kept = pads.dataset(lineage.kept_dir(self.out), partitioning="hive")
        kept = kept.to_table(columns=["image_id", "caption"]).to_pandas()
        m = self.golden.merge(audit, on="image_id", how="left")
        f1 = _f1(m["action"] == "create", m["keep"].astype(bool))
        cap = kept.merge(self.golden, on="image_id", how="left")
        ok = (
            summary.get("status") == "completed"
            and f1 >= 0.99
            and len(audit) == self.rows
            and audit["image_id"].is_unique
            and set(kept["image_id"]) == set(audit.loc[audit.action == "create", "image_id"])
            and bool((cap["caption"] == cap["scrubbed_caption"]).all())
        )
        return bool(ok), f1

    # -- tracing -------------------------------------------------------

    @staticmethod
    def _patches(rec: tracing.Recorder) -> list:
        from gobulk_spark import lineage, sinks

        def audit_name(df, out_dir, phase, run_id):
            # the scan phase's only job is the dedup audit write
            return "sources.find_duplicates_s" if phase == "scan" else "lineage.write_audit_s"

        def commit_name(out_dir, run_id, phase, *a, **k):
            return f"commit.{phase}"

        return [
            (lineage, "write_audit", lambda f: rec.wrap(audit_name, f)),
            (lineage, "write_metrics", lambda f: rec.wrap("lineage.write_metrics_s", f)),
            (lineage, "advance_marker", lambda f: rec.wrap("lineage.advance_marker_s", f)),
            (lineage, "commit_phase", lambda f: rec.wrap(commit_name, f)),
            (sinks.ParquetKeptSink, "write", lambda f: rec.wrap("sinks.write_kept_s", f)),
        ]

    def _layers(self, rec: tracing.Recorder, summary: dict) -> dict:
        from gobulk_spark import lineage

        mine = [s for s in rec.spans if s["trace"] == rec.trace_id]
        out = {k: v for k, v in rec.totals(rec.trace_id).items() if k.endswith("_s")}
        start = next(s["start"] for s in mine if s["name"] == "pipeline.run")
        end = next(s["end"] for s in mine if s["name"] == "pipeline.run")
        commits = {s["name"][7:]: s["end"] for s in mine if s["name"].startswith("commit.")}
        bounds = [start] + [commits[p] for p in _PHASES[:2]] + [end]
        for p, t0, t1 in zip(_PHASES, bounds, bounds[1:]):
            out[f"pipeline.{p}_s"] = t1 - t0
        out["sources.dups"] = summary["phases"]["scan"]["n_dups"]
        files, size = _tree_size(lineage.kept_dir(self.out))
        out["sinks.files_written"], out["sinks.bytes_written"] = files, size
        side = [os.path.join(self.out, d) for d in os.listdir(self.out) if d != "kept"]
        out["lineage.bytes_written"] = _tree_size(*side)[1]
        return out

    def extra_layers(self, spark, cores: int, reps: int, rec: tracing.Recorder) -> tuple[bool, dict]:
        """(output correct, per-layer metrics) measured after the traced
        loop: the self time of the parse stage, its kernels and the plan
        step, each run on its own (not inside ``run_pipeline``), then
        one traced ``Reimport``."""
        from pyspark.sql import functions as F

        from gobulk_spark import lineage, reference_labeler, stages
        from gobulk_spark.functions import scrub, textstats
        from gobulk_spark.models import langid, perplexity
        from gobulk_spark.plan import decision_columns
        from gobulk_spark.rules import DEFAULT_THRESHOLDS
        from gobulk_spark.sources import scan

        def timed(fn) -> float:
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            return statistics.median(ts)

        out = {}
        src = scan.with_content_hash(scan.read_source(spark, self.source)).cache()
        n_src = src.count()
        parse = src.repartition(cores * 2, F.xxhash64("image_id")).mapInPandas(
            stages.make_parse_stage(), schema=stages.PARSE_OUTPUT_SCHEMA
        )
        out["stages.parse_s"] = timed(lambda: parse.write.format("noop").mode("overwrite").save())
        src.unpersist()
        feats = spark.read.parquet(lineage.stage_dir(self.out, "r1", "features"))
        decided = decision_columns(feats, DEFAULT_THRESHOLDS)
        out["plan.decide_s"] = timed(lambda: decided.write.format("noop").mode("overwrite").save())

        # in-driver kernels over Arrow-sized pandas batches, one process
        pdf = pads.dataset(self.source).to_table().to_pandas()
        pdf["source_file"] = "driver"
        pdf["content_hash"] = reference_labeler.content_hash(pdf["bytes"], pdf["caption"])
        batches = [pdf.iloc[i : i + 2048] for i in range(0, len(pdf), 2048)]
        stages.parse_batch(batches[0].head(8))  # fits the model singletons
        scrubbed = [scrub.scrub_captions(b["caption"]) for b in batches]
        langs = [langid.predict(s)["lang"] for s in scrubbed]
        kernels = {
            "stages.parse_batch_us_per_row": lambda: [stages.parse_batch(b) for b in batches],
            "functions.scrub.us_per_row": lambda: [scrub.scrub_captions(b["caption"]) for b in batches],
            "functions.imaging.decode_us_per_row": lambda: [
                reference_labeler.decode_batch(b["bytes"]) for b in batches
            ],
            "models.langid.us_per_row": lambda: [langid.predict(s) for s in scrubbed],
            "models.perplexity.us_per_row": lambda: [perplexity.score(s) for s in scrubbed],
            "functions.textstats.us_per_row": lambda: [
                (textstats.max_word_freq_ratio(s), textstats.stopword_density(s, lg))
                for s, lg in zip(scrubbed, langs)
            ],
        }
        for name, fn in kernels.items():
            out[name] = timed(fn) / len(pdf) * 1e6
        parse_cpu_s = out["stages.parse_batch_us_per_row"] * n_src * 1e-6
        out["stages.overhead_ratio"] = out["stages.parse_s"] * cores / parse_cpu_s
        ok, layers = self.reimport.run(spark, rec)
        out.update(layers)
        return ok, out


class Reimport:
    """An incremental re-import into a ``TxLogKeptSink`` store, run once
    with tracing after a traced ``full_import`` loop.

    Untimed: the corpus is imported into a fresh store (run ``r1``), then
    ``inputs.REWRITTEN`` of its shards are swapped for rewritten copies
    holding updates, deletes and new ids. Traced: ``run_pipeline`` with
    ``incremental=True`` (run ``r2``): manifest prune, marker anti-join,
    ``classify_actions``, the delete step and the txlog MERGE. It is the
    first incremental run in the JVM, so its times include that warm-up.
    """

    def __init__(self, work: str, seed: int, sizes: dict):
        rows = sizes["image_rows"]
        self.base = os.path.join(inputs.image_corpus(os.path.join(work, "inputs"), rows, seed), "source")
        d = inputs.reimport_shards(os.path.join(work, "inputs"), rows, seed)
        self.rewritten = os.path.join(d, "source")
        self.golden = pd.read_parquet(os.path.join(d, "golden.parquet"))
        self.root = os.path.join(work, "out", "reimport")
        self.source = os.path.join(self.root, "source")
        self.out = os.path.join(self.root, "store")

    def run(self, spark, rec: tracing.Recorder) -> tuple[bool, dict]:
        """(output correct, per-layer metrics) of one traced re-import."""
        from gobulk_spark import executor, lineage
        from gobulk_spark.config import PipelineConfig
        from gobulk_spark.pipeline import run_pipeline
        from gobulk_spark.sources import manifest
        from gobulk_spark.txlog import TxLogKeptSink

        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.base, self.source)
        sink = TxLogKeptSink(self.out)
        run_pipeline(spark, PipelineConfig(self.source, self.out, run_id="r1"), sink=sink)
        n_before = len(sink.history(spark))
        for name in os.listdir(self.rewritten):
            dst = os.path.join(self.source, name)
            mtime = os.path.getmtime(dst) + 60  # the manifest keys on (length, mtime)
            shutil.copyfile(os.path.join(self.rewritten, name), dst)
            os.utime(dst, (mtime, mtime))

        rec.trace_id += 1
        patches = [
            (manifest, "run_scan_set", lambda f: rec.wrap("sources.run_scan_set_s", f)),
            (lineage, "processed_keys", lambda f: rec.wrap("lineage.processed_keys_s", f)),
            (executor, "probe_decided", lambda f: rec.wrap("executor.probe_decided_s", f)),
            (executor, "execute_deletes", lambda f: rec.wrap("executor.execute_deletes_s", f)),
            (TxLogKeptSink, "merge", lambda f: rec.wrap("txlog.merge_s", f)),
        ]
        cfg = PipelineConfig(self.source, self.out, run_id="r2", incremental=True)
        with tracing.spark_counts(spark.sparkContext, "reimport") as counts:
            with tracing.patched(patches), rec.span("reimport.run") as root:
                summary = run_pipeline(spark, cfg, sink=sink)
        out = rec.totals(rec.trace_id)
        out["reimport.run_s"] = root["end"] - root["start"]
        del out["reimport.run"]
        out["reimport.spark_jobs"] = counts["spark.jobs"]
        scan = summary["phases"]["scan"]
        out["sources.files_scanned"] = scan["source_files_scanned"]
        out["sources.bytes_scanned"] = scan["source_bytes_scanned"]
        history = sink.history(spark)
        live: set[str] = set()
        # both runs commit through merge, whose entries list every file
        # they add and remove
        for e in history:
            live = (live - set(e.get("remove", ()))) | set(e.get("add", ()))
        mine = history[n_before:]
        out["txlog.commits"] = len(mine)
        out["txlog.files_added"] = sum(len(e.get("add", ())) for e in mine)
        out["txlog.files_live"] = len(live)
        audit = pads.dataset(lineage.audit_leaf(self.out, "store", "r2")).to_table(columns=["action"])
        actions = audit.to_pandas()["action"].value_counts()
        for a in ("create", "update", "delete", "omit", "issue"):
            out[f"executor.actions.{a}"] = int(actions.get(a, 0))

        kept = sink.read(spark).select("image_id", "caption").toPandas()
        want = self.golden[self.golden["keep"].astype(bool)]
        both = kept.merge(want, on="image_id")
        f1 = 2 * len(both) / (len(kept) + len(want)) if len(kept) + len(want) else 1.0
        ok = (
            summary.get("status") == "completed"
            and kept["image_id"].is_unique
            and f1 >= 0.99
            and bool((both["caption"] == both["scrubbed_caption"]).all())
            and all(out[f"executor.actions.{a}"] > 0 for a in ("create", "update", "delete"))
        )
        if not ok:
            print(f"reimport: store differs from the golden labels (f1={f1:.4f})", file=sys.stderr)
        return bool(ok), out


# the operator suite; every entry but the last two has an oracle_sql()
SUITE = (
    "minhash_lsh_candidates",
    "simhash_near_dups",
    "winnow_overlap_pairs",
    "dedup_clusters",
    "duplicate_token_spans",
    "segment_dedup_rewrite",
    "tfidf_top_terms",
    "embedding_pq_ann",
    "flagship_quality_filter",
)


def _value(v):
    if isinstance(v, (float, np.floating)):
        return round(float(v), 9)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_value(x) for x in v)
    return None if v is None else str(v)


def _canon(df: pd.DataFrame) -> list[str]:
    """Order-insensitive rows, columns by name, floats to 9 places."""
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(repr(tuple(_value(v) for v in r)) for r in df.itertuples(index=False))


class CurationOps:
    """Each suite query built and collected, one after another; one
    operation is the whole suite. Collecting (the results are small)
    lets every operation be checked against the oracle, and the warm-up
    runs exactly the plans the timed operations run."""

    name = "curation_ops"

    def __init__(self, work: str, seed: int, sizes: dict, trace: bool):
        import __spark_entry__ as entry

        self.entry = entry
        suite_oracles = {n: q for n, q in entry.oracle_sql().items() if n in SUITE}
        self.data = inputs.curation_tables(
            os.path.join(work, "inputs"), sizes["docs"], sizes["vecs"], seed, suite_oracles
        )
        self.oracles = {}  # name -> (columns, canonical rows) of the DuckDB result
        for n in suite_oracles:
            want = pd.read_parquet(os.path.join(self.data, "oracle", f"{n}.parquet"))
            self.oracles[n] = (sorted(want.columns), _canon(want))
        self.rows = sizes["docs"]
        self.expected: dict[str, int] = {}  # rows of the entries without oracle, first run

    def _query(self, spark, name: str):
        return getattr(self.entry, f"q_{name}")(spark, self.data)

    def warmup(self, spark) -> tuple[bool, float]:
        r = self.run(spark)
        return r["ok"], r["f1"]

    def run(self, spark, rec: tracing.Recorder | None = None) -> dict:
        layers, results = {}, {}
        t_start = time.perf_counter()
        for name in SUITE:
            span = rec.span(f"operators.{name}") if rec else contextlib.nullcontext()
            with span:
                t0 = time.perf_counter()
                results[name] = self._query(spark, name).toPandas()
                layers[f"operators.{name}_s"] = time.perf_counter() - t0
            layers[f"operators.{name}.rows_out"] = len(results[name])
        run_s = time.perf_counter() - t_start
        # operators persist intermediates; every run starts from a cold cache
        spark.catalog.clearCache()
        ok, f1 = self.check(results)
        return {"run_s": run_s, "ok": ok, "f1": f1, "layers": layers if rec is not None else {}}

    def check(self, results: dict[str, pd.DataFrame]) -> tuple[bool, float]:
        """(every entry correct, share of the oracle-checked entries that
        equal their DuckDB result). Entries without an oracle must
        reproduce their first run's row count."""
        matched = 0
        for name, (cols, rows) in self.oracles.items():
            got = results[name]
            if sorted(got.columns) == cols and _canon(got) == rows:
                matched += 1
            else:
                print(f"curation_ops: {name} differs from its oracle", file=sys.stderr)
        same_rows = True
        for name in set(SUITE) - set(self.oracles):
            n = self.expected.setdefault(name, len(results[name]))
            same_rows = same_rows and len(results[name]) == n
        return matched == len(self.oracles) and same_rows, matched / len(self.oracles)


WORKLOADS = {w.name: w for w in (FullImport, CurationOps)}


def safe_run(workload, spark, rec=None) -> dict:
    """``workload.run`` with any exception counted as a failed operation."""
    try:
        return workload.run(spark, rec)
    except Exception:
        traceback.print_exc()
        return {"run_s": None, "ok": False, "layers": {}}
