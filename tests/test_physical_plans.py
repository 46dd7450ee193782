"""Physical-plan contracts — guards against scale regressions.

These assert the plan properties that matter at 100 TB: column pruning
into the parquet scan, broadcast (not shuffle) joins for the dup list,
and exactly one wide exchange in the parse job (the deliberate salted
repartition).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gobulk_spark import lineage
from gobulk_spark.sources import scan as src_scan
from gobulk_spark.stages import PARSE_OUTPUT_SCHEMA, make_parse_stage


@pytest.fixture(scope="module")
def src(spark, corpus_1500):
    path, _, _ = corpus_1500
    return src_scan.read_source(spark, path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_scan_prunes_to_three_columns(src):
    plan = _plan(src_scan.find_duplicates(src))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan
    for s in scans:
        # only the hash inputs are read; bytes never shuffles, and w/h/
        # fmt/phash are pruned away entirely
        assert "image_id" in s and "bytes" in s and "caption" in s
        assert "phash" not in s and "fmt" not in s


def test_dup_removal_is_broadcast_anti_join(spark, src):
    dups = spark.createDataFrame(pd.DataFrame({"image_id": ["img-00000001"]}))
    plan = _plan(src_scan.anti_join_ids(src, dups, broadcast=True))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_parse_job_has_exactly_one_wide_exchange(spark, src, tmp_path):
    dups = spark.createDataFrame(pd.DataFrame({"image_id": ["img-00000001"]}))
    out = str(tmp_path)
    dups.write.parquet(lineage.audit_leaf(out, "scan", "r1"))  # the dup list
    feats = src_scan.parse_input(spark, src, out, "r1", n_dups=1, stop_on_error=False)
    plan = _plan(feats)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    shuffles = [
        l
        for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "Reused" not in l
    ]
    assert len(shuffles) == 1, plan  # the salted repartition, nothing else
    assert "REPARTITION_BY_NUM" in shuffles[0]
    assert "pmod(phash" in shuffles[0]


def test_decision_chain_stays_in_codegen(spark, corpus_1500):
    """The plan stage is pure Column exprs — whole-stage codegen, no
    Python evaluation nodes."""
    from gobulk_spark.plan import decision_columns
    from gobulk_spark.rules import DEFAULT_THRESHOLDS

    path, _, _ = corpus_1500
    feats = src_scan.read_source(spark, path).limit(10)
    feats = feats.mapInPandas(make_parse_stage(False), schema=PARSE_OUTPUT_SCHEMA)
    decided = decision_columns(feats, DEFAULT_THRESHOLDS)
    plan = _plan(decided)
    # exactly one python node (the parse stage); the decision adds none
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_binary_column_absent_downstream_of_parse(spark, src, tmp_path):
    feats = src_scan.parse_input(spark, src, str(tmp_path), "r1", n_dups=0, stop_on_error=False)
    assert "bytes" not in feats.columns
    from gobulk_spark.plan import decision_columns
    from gobulk_spark.rules import DEFAULT_THRESHOLDS

    assert "bytes" not in decision_columns(feats, DEFAULT_THRESHOLDS).columns

def test_lsh_self_join_reuses_pinned_intermediate(spark):
    """The signature/shingle frame must be computed once and read from
    cache by the guard + both self-join sides — without the pin the
    corpus-wide map work executes once per consumer (4 scans observed)."""
    from gobulk_spark.operators.dedup import minhash_lsh_candidates

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_lsh_candidates(d, "doc_id", "text", 8, 2, max_bucket_size=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3  # guard + join left + join right


def test_ivf_partitioned_store_prunes_unprobed_cells(spark, tmp_path):
    """The at-rest IVF layout: probe selection must become PARTITION
    PRUNING — the scan lists only the probed ivf_cell=... directories
    (PartitionFilters in the plan, probed-only files in the scan), and
    results equal the in-memory ivf_ann on the same centroids."""
    import numpy as np

    from gobulk_spark.operators.similarity import (
        ivf_ann,
        ivf_ann_pruned,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(11)
    dim, n = 16, 400
    rows = [(i, rng.standard_normal(dim).astype("float32").tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_store")
    cents = write_ivf_partitioned(emb, path, dim, n_cells=8, seed=7)
    q = rows[0][1]
    pruned = ivf_ann_pruned(spark, path, q, cents, k=5, n_probe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    # the same probes through the in-memory operator must agree exactly
    mem = ivf_ann(
        emb, q, dim=dim, k=5, n_cells=8, n_probe=2, centroids=cents
    ).collect()
    assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in mem]
    # the pruning filter is a PARTITION filter (directory-level), not a
    # post-scan data filter: the scan node carries it in
    # PartitionFilters and the probed cells fully bound what comes back
    scores = cents @ np.asarray(q, dtype=np.float64)
    probes = {int(i) for i in np.argsort(-scores)[:2]}
    # partitionColumnTypeInference is disabled globally (numeric run ids
    # must stay strings), so the partition column reads back as string
    got_cells = {
        int(r["ivf_cell"])
        for r in spark.read.parquet(path)
        .where(F.col("ivf_cell").isin([str(p) for p in probes]))
        .select("ivf_cell")
        .distinct()
        .collect()
    }
    assert got_cells <= probes and got_cells
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "ivf_cell" in pf.group(1)  # pruning, not a data filter
    df_filter = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if df_filter:  # the cell predicate must NOT degrade to a row filter
        assert "ivf_cell" not in df_filter.group(1)


def test_ivf_append_maintains_store_without_rebuild(spark, tmp_path):
    """Incremental index maintenance: appending a batch routes each new
    vector to its trained cell and lands files INSIDE the partitioned
    layout — a pruned query over the store equals the in-memory
    operator over the UNION with the same centroids, resident files are
    untouched, and the drift metrics flag a crowding batch."""
    import os

    import numpy as np

    from gobulk_spark.operators.similarity import (
        ivf_ann,
        ivf_ann_pruned,
        ivf_append,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(13)
    dim, n = 16, 300
    rows = [
        (i, rng.standard_normal(dim).astype("float32").tolist())
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_store")
    cents = write_ivf_partitioned(emb, path, dim, n_cells=8, seed=7)

    def _files():
        out = set()
        for d in os.listdir(path):
            if d.startswith("ivf_cell="):
                for f in os.listdir(os.path.join(path, d)):
                    if f.endswith(".parquet"):
                        out.add(f"{d}/{f}")
        return out

    before = _files()
    new_rows = [
        (1000 + i, rng.standard_normal(dim).astype("float32").tolist())
        for i in range(60)
    ]
    new = spark.createDataFrame(
        new_rows, "vec_id long, embedding array<float>"
    )
    res = ivf_append(new, path, cents)
    assert res["appended"] == 60
    assert sum(res["cell_histogram"].values()) == 60
    # resident files untouched; new files landed inside cell dirs
    after = _files()
    assert before <= after and len(after) > len(before)
    # a pruned query over the grown store == in-memory over the union
    # n_probe < n_cells: probing a strict subset makes routing real —
    # a mis-routed appended vector lands outside the probed dirs and
    # the equality with the in-memory operator breaks (probe-all would
    # scan every dir and mask it)
    q = new_rows[0][1]
    pruned = ivf_ann_pruned(spark, path, q, cents, k=5, n_probe=3)
    union = emb.unionByName(new)
    mem = ivf_ann(
        union, q, dim=dim, k=5, n_cells=8, n_probe=3, centroids=cents
    ).collect()
    assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in mem]
    # self-retrieval at the narrowest probe: the query IS an appended
    # vector, n_probe=1 probes exactly its argmax cell — it must be there
    one = ivf_ann_pruned(spark, path, q, cents, k=1, n_probe=1).collect()
    assert one and one[0]["vec_id"] == new_rows[0][0]
    # drift metrics: a batch of copies of ONE centroid direction crowds
    # one cell with a wide margin
    crowd = spark.createDataFrame(
        [
            (2000 + i, (cents[3] / np.linalg.norm(cents[3])).tolist())
            for i in range(20)
        ],
        "vec_id long, embedding array<float>",
    )
    res2 = ivf_append(crowd, path, cents)
    assert res2["hot_cell_share"] == 1.0
    assert res2["mean_margin"] > res["mean_margin"]
    # empty batch: nothing written, zeroed report
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ivf_append(empty, path, cents)["appended"] == 0


def test_lsh_partitioned_store_prunes_to_one_bucket(spark, tmp_path):
    """The LSH at-rest layout: the query's bucket is a directory-level
    partition filter and results equal the in-memory single-bucket
    operator."""
    import numpy as np

    from gobulk_spark.operators.similarity import (
        lsh_ann_pruned,
        lsh_bucket_ann,
        write_lsh_partitioned,
    )

    rng = np.random.default_rng(13)
    rows = [(i, rng.standard_normal(16).astype("float32").tolist()) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "lsh_store")
    write_lsh_partitioned(emb, path, 16, n_planes=4)
    q = rows[7][1]
    pruned = lsh_ann_pruned(spark, path, q, 16, k=5, n_planes=4)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "bucket" in pf.group(1)
    mem = lsh_bucket_ann(emb, q, 16, k=5, n_planes=4).collect()
    assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in mem]
