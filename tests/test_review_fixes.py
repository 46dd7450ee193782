"""Regression tests for review findings: pin registry, threshold
boundaries, accounting, join aliases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_release_pins_actually_releases(spark):
    """pin() must hold STRONG refs: operators pin function-local frames
    that are gone by the time the caller's action finishes, and Spark's
    CacheManager never unpersists on Python GC — a weak registry would
    always release 0 and leak disk-spilled blocks for the app's life."""
    from gobulk_spark.operators.dedup import ngram_jaccard_pairs, release_pins

    release_pins()  # clean slate
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    ngram_jaccard_pairs(df, "doc_id", "text").collect()
    assert release_pins() >= 1
    assert release_pins() == 0  # idempotent: registry drained


def test_hex_threshold_full_fraction_keeps_everything(spark):
    from gobulk_spark.operators.quality import hash_split, stratified_sample

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    # keep-all stratum: frac 1.0 must not become the '100' string that
    # lexicographically excludes ~94% of md5 prefixes
    out = stratified_sample(df, "doc_id", "lang", {"en": 1.0})
    assert out.count() == 500
    # train+val == 1.0: test split empty, val split NON-empty
    counts = {
        r["split"]: r["count"]
        for r in hash_split(df, "doc_id", 0.95, 0.05)
        .groupBy("split").count().collect()
    }
    assert counts.get("test", 0) == 0 and counts.get("val", 0) > 0


def test_salted_join_accepts_spark_aliases(spark):
    from gobulk_spark.operators.relational import salted_join

    l = spark.createDataFrame([(1, "x")], "k long, v string")
    r = spark.createDataFrame([(1, "y")], "k long, w string")
    for how in ("leftouter", "left_outer", "semi", "leftsemi", "anti"):
        salted_join(l, r, "k", n_salts=2, how=how).collect()
    for how in ("right", "full_outer", "outer", "cross"):
        with pytest.raises(ValueError):
            salted_join(l, r, "k", n_salts=2, how=how)


def test_simhash_oversized_probe_radius_rejected(spark):
    from gobulk_spark.operators.text import simhash_near_dups

    sig = spark.createDataFrame([(1, 5), (2, 7)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="probe_radius"):
        # b=1 band of 64 bits, C(64,<=16) masks — must refuse loudly,
        # not overflow a LongType literal or enumerate 10^14 masks
        simhash_near_dups(sig, "doc_id", max_hamming=16, probe_radius=16)


def test_numeric_run_id_round_trips_through_store(spark, tmp_path):
    """partitionColumnTypeInference types run=20240816 as int; the read
    layer casts it back so validate/exclusion logic stays type-stable."""
    from gobulk_spark import lineage

    kept = str(tmp_path / "out")
    df = spark.createDataFrame(
        [("img1", "en", "20240816")], "image_id string, lang string, run string"
    )
    df.write.partitionBy("run", "lang").parquet(lineage.kept_dir(kept))
    back = lineage.read_kept(spark, kept)
    assert dict(back.dtypes)["run"] == "string"
    assert back.where(F.col("run") == "20240816").count() == 1


def test_exact_redelivery_lands_once(spark, tmp_path):
    """The SAME (image_id, content_hash) delivered twice in one batch is
    invisible to scan dedup (both rows are the min-id survivor) — the
    store must still land exactly one copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gobulk_spark.config import PipelineConfig
    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.pipeline import run_pipeline
    from gobulk_spark.sinks import MemoryKeptSink

    pairs, _ = generate_pairs(80, seed=11)
    doubled = pa.concat_tables([pairs, pairs.slice(0, 5)])  # re-deliver 5 rows
    src = str(tmp_path / "src.parquet")
    pq.write_table(doubled, src)
    sink = MemoryKeptSink()
    run_pipeline(
        spark,
        PipelineConfig(source_path=src, out_dir=str(tmp_path / "out"), run_id="r1"),
        sink=sink,
    )
    kept = sink.read(spark).toPandas()
    assert kept["image_id"].is_unique, kept[kept.image_id.duplicated(keep=False)]


def test_is_blank_spark_matches_pandas(spark):
    """'\t\n' captions: Spark's F.trim strips only spaces — is_blank
    must match the pandas reference (str.strip(), all whitespace) or
    drop_reason diverges between the labeler and the plan chain."""
    import pandas as pd

    from gobulk_spark.functions.heuristics import is_blank

    caps = pd.Series(["\t\n", "  ", "x", None, " \r "])
    pd_blank = (caps.isna() | (caps.fillna("").str.strip() == "")).tolist()
    df = spark.createDataFrame(
        [(c,) for c in caps], "caption string"
    )
    got = [r[0] for r in df.select(is_blank(F.col("caption"))).collect()]
    assert got == pd_blank == [True, True, False, True, True]


def test_pii_counts_match_actual_replacements():
    """Nested patterns count once: 'john@192.168.0.1' is one <EMAIL>
    replacement — reporting ipv4=1 as well would overstate PII hits
    relative to what scrub_captions actually masked."""
    import pandas as pd

    from gobulk_spark.functions.scrub import pii_hit_counts, scrub_captions

    caps = pd.Series(["mail john@1.2.3.4.com now", "ip 10.0.0.1 only"])
    counts = pii_hit_counts(caps)
    assert counts["email"].tolist() == [1, 0]
    assert counts["ipv4"].tolist() == [0, 1]
    assert scrub_captions(caps)[0] == "mail <EMAIL> now"


def test_simhash_rejects_probe_radius_at_or_above_max_hamming(spark):
    """probe_radius >= max_hamming collapses the plan to one 64-bit
    band whose probe masks include 1<<63 — unrepresentable as a
    positive LongType literal — and small radii slip under the 100k
    mask-count guard. Rejected up front (round-4 advice)."""
    from gobulk_spark.operators.text import simhash_near_dups

    sig = spark.createDataFrame([("a", 1), ("b", 3)], "id string, simhash long")
    with pytest.raises(ValueError, match="probe_radius"):
        simhash_near_dups(sig, "id", max_hamming=3, probe_radius=3, n_rows=2)
    with pytest.raises(ValueError, match="probe_radius"):
        simhash_near_dups(sig, "id", max_hamming=16, probe_radius=20, n_rows=2)


def test_ivf_cells_budget_total_at_exact_duplicate_threshold():
    """min_cosine=1.0 gives p=1.0 and log(p)=0: must return 1 (plain
    banding) instead of ZeroDivisionError (round-4 advice)."""
    from gobulk_spark.operators.similarity import ivf_cells_for_band_budget

    assert ivf_cells_for_band_budget(10**6, 1.0) == 1
    assert ivf_cells_for_band_budget(10**6, 0.99) >= 1  # near-exact still total
