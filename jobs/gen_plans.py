import sys, io, tempfile
sys.path.insert(0,"/root/repo")
from gobulk_spark.session import get_spark
from gobulk_spark.sources import scan as src_scan
from gobulk_spark import lineage
from gobulk_spark.plan import decision_columns
from gobulk_spark.rules import DEFAULT_THRESHOLDS
import __spark_entry__ as em
import pandas as pd
from pyspark.sql import functions as F

spark = get_spark("local[8]")
src = src_scan.with_content_hash(
    src_scan.read_source(spark, "/tmp/gobulk_spark_test_corpora/n1500/pairs.parquet"))

def fmt(df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

sections = []
sections.append(("Dedup decision (scan phase)",
  "Both scans prune to (image_id, bytes, caption); the hash is computed at the scan and "
  "only (id, hash) pairs shuffle — map-side partial aggregation shrinks the exchange to "
  "unique hashes. The wide binary column never crosses an exchange.",
  fmt(src_scan.find_duplicates(src, carry=("source_file",)))))

dups = spark.createDataFrame(pd.DataFrame({"image_id": ["img-00000001"]}))
dup_out = tempfile.mkdtemp(prefix="gobulk_plans_")
dups.write.parquet(lineage.audit_leaf(dup_out, "scan", "r1"))  # the scan phase's dup list
feats = src_scan.parse_input(spark, src, dup_out, "r1", n_dups=1, stop_on_error=False)
sections.append(("Parse job (dup anti-join -> salted repartition -> Arrow stage)",
  "One BroadcastHashJoin (LeftAnti) removes duplicates without shuffling the wide rows; "
  "the single non-broadcast Exchange is the deliberate salted repartition on "
  "(pmod(phash, B), salt); MapInPandas consumes the bytes and emits the narrow feature schema.",
  fmt(feats)))

sections.append(("Decision chain over staged features (store phase)",
  "Pure Column expressions (Java regex, comparisons) over the parse output — no Python "
  "evaluation nodes; the whole chain sits in one WholeStageCodegen span over the scan.",
  fmt(decision_columns(spark.read.parquet("/tmp/gobulk_spark_test_out/e2e/_stage/r1/features"), DEFAULT_THRESHOLDS))))

sf = "/root/testdata/sf0.001"
sections.append(("MinHash LSH candidates (documents)",
  "Shingle explode is preceded by an explicit repartition (work amplification from a "
  "single-split dim table); all 8 minhashes aggregate in ONE groupBy (map-side combined) "
  "then unpivot via stack; the candidate self-join keys on (band, minhash) with the "
  "hot-bucket guard applied as a broadcast anti-join.",
  fmt(em.queries()["minhash_lsh_candidates"](spark, sf))))

sections.append(("Flagship quality filter (pruned Arrow input)",
  "The documents scan reads ONLY (doc_id, text) — Catalyst cannot prune through an "
  "opaque UDF, so the projection happens before mapInPandas; aggregation after the "
  "stage is JVM-side.",
  fmt(em.queries()["flagship_quality_filter"](spark, sf))))

sections.append(("As-of join (purchases enriched with last preceding view)",
  "NO join node: both sides union (right side pre-deduped per key+ts), one Exchange on "
  "user_id for the window, last(ignorenulls) carries the right attributes forward; "
  "cost independent of right-history depth per left row.",
  fmt(em.q_asof_join_purchase_view(spark, sf))))

sections.append(("Repetition signals (per-doc, zero-shuffle)",
  "The entire Gopher-style repetition computation is ONE narrow projection over the "
  "scan — no Exchange of any kind, no Python nodes: n-grams are built by zip_with "
  "shifted-copy folds (argument position, evaluated once — lambda-internal references "
  "would be re-inlined per element) and the top-gram count is an array_sort + one "
  "aggregate max-run pass.",
  fmt(em.q_repetition_stats(spark, sf))))

sections.append(("Benchmark contamination check (broadcast eval side)",
  "The eval set's distinct n-grams build a BroadcastExchange; the training corpus is "
  "probed map-side and never shuffles — the only Exchange is the per-doc rollup of "
  "matched grams.",
  fmt(em.queries()["contamination_check"](spark, sf))))

sections.append(("Embedding brute-force top-k",
  "Map-side cosine (sequential double fold, oracle-exact) + TakeOrderedAndProject — "
  "per-partition top-k merged on the driver, no global sort.",
  fmt(em.queries()["embedding_topk"](spark, sf))))

sections.append(("Image phash near-dup pairs (banded multi-probe)",
  "The 64-bit phash rides the simhash banding machinery: band keys are "
  "shiftrightunsigned+mask Column expressions (codegen), the probe side explodes "
  "JVM-literal mask arrays, the self-join keys on (band, probe_key=band_key), and the "
  "hamming verification is map-side bit_count BEFORE the distinct — only true pairs "
  "shuffle. No Python nodes anywhere.",
  fmt(em.queries()["phash_near_dup_images"](spark, sf))))

from gobulk_spark.operators.asof import asof_join_auto
ev = spark.read.parquet(f"{sf}/events.parquet")
purch = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
views = ev.where(F.col("event_type") == "view").groupBy("user_id", "ts").agg(
    F.max("event_id").alias("event_id"))
sections.append(("Skew-adaptive as-of join (uniform input -> plain plan)",
  "asof_join_auto probed key skew (freqItems + candidate counts, narrow jobs not in "
  "this plan) and found none, so the emitted plan is EXACTLY the plain operator's: one "
  "Exchange on user_id, one window — no _bkt machinery, no salting premium paid.",
  fmt(asof_join_auto(purch, views, by="user_id", ts_col="ts",
                     right_cols=("event_id", "ts"), prefix="view_",
                     tie_break="event_id"))))

from gobulk_spark.operators.similarity import ivf_ann_pruned, write_ivf_partitioned
emb = spark.read.parquet(f"{sf}/embeddings.parquet")
q0 = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
cents = write_ivf_partitioned(
    emb.where(F.col("vec_id") != 0), "/tmp/gobulk_plans_ivf_store",
    len(q0), n_cells=16, seed=7)
sections.append(("At-rest IVF ANN over the cell-partitioned store",
  "The probe predicate compiles into PartitionFilters (ivf_cell IN ...) — un-probed "
  "cells' directories are never listed or opened, so probe selection bounds BYTES READ; "
  "scoring is map-side cosine + TakeOrderedAndProject over the probed subset only.",
  fmt(ivf_ann_pruned(spark, "/tmp/gobulk_plans_ivf_store", list(q0), cents,
                     k=10, n_probe=4))))

sections.append(("Exact duplicate-substring spans (Lee-style dedup)",
  "Stride-1 window hashes leave the row as 32-char md5s only (text never shuffles); "
  "the window frame is pinned (InMemoryTableScan feeds both the duplicated-hash "
  "aggregate and the join probe), and the island merge is ONE window function "
  "partitioned by doc_id.",
  fmt(em.queries()["duplicate_token_spans"](spark, sf))))

sections.append(("NB quality-classifier scoring (seed-labeled distillation)",
  "Training collapsed to a 256-row broadcast before this plan: scoring is the n-gram "
  "explode + md5 bucket (codegen), ONE BroadcastHashJoin against the LLR table, and a "
  "map-side-combined integer sum per doc — the text never crosses an exchange and no "
  "Python eval node appears anywhere.",
  fmt(em.queries()["nb_quality_classifier"](spark, sf))))

sections.append(("Temperature-based domain-mixture resampling",
  "The histogram groupBy + driver level search happen before this plan is built; the "
  "filter itself is ONE BroadcastHashJoin against the L-row threshold table plus a "
  "codegen md5-bucket predicate — zero Exchange of data rows, no Python eval.",
  fmt(em.queries()["domain_mixture_sample"](spark, sf))))

out = io.StringIO()
out.write("""# PLANS — annotated physical plans of the hot paths

Generated by `jobs/gen_plans.py` against the 1500-row test corpus and
sf0.001 driver tables (plan SHAPE is scale-independent; AQE adapts
partition counts at runtime). What to look for in each plan is noted
above it; tests/test_physical_plans.py asserts the load-bearing
properties so they cannot regress silently.

""")
for title, note, plan in sections:
    out.write(f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n\n")
open("/root/repo/PLANS.md","w").write(out.getvalue())
print("written", len(out.getvalue()))
spark.stop()
