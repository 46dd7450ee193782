"""Operator-level tests: dedup variants, ANN recall, phash banding."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gobulk_spark.operators import dedup, quality, similarity
from gobulk_spark.operators.images import phash_near_dup_images
from gobulk_spark.operators.text import winnow_overlap_pairs


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different text about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "spark engines process completely different text"),  # shares vocab w/ 2
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_keeps_min_id(spark, docs):
    kept = dedup.dedup_exact(docs, "doc_id", "text").toPandas()
    assert sorted(kept["doc_id"]) == [0, 1, 2, 4]
    groups = dedup.exact_dups(docs, "doc_id", "text").toPandas()
    assert len(groups) == 1 and groups["canonical_id"].iloc[0] == 0


def test_minhash_lsh_finds_near_dup(spark, docs):
    cand = dedup.minhash_lsh_candidates(docs, "doc_id", "text").toPandas()
    pairs = set(zip(cand["id_a"], cand["id_b"]))
    assert (0, 1) in pairs or (0, 3) in pairs  # near/exact dups collide
    assert (0, 3) in pairs  # exact dup always agrees on all bands
    full = cand[(cand.id_a == 0) & (cand.id_b == 3)]
    assert full["bands_agreeing"].iloc[0] == 8


def test_jaccard_exact_values(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", min_jaccard=0.5).toPandas()
    pairs = {(a, b): j for a, b, j in zip(out.id_a, out.id_b, out.jaccard)}
    assert pairs[(0, 3)] == 1.0  # identical docs
    assert 0.5 <= pairs[(0, 1)] < 1.0  # one token differs


#: the near-dup operators whose joins Spark sizes (no row cap, no hint);
#: winnow runs without its stop-fingerprint guard, whose hot-key set is
#: always broadcast by hint
SIZED_BY_SPARK = {
    "minhash": lambda d: dedup.minhash_lsh_candidates(d, "doc_id", "text"),
    "jaccard": lambda d: dedup.ngram_jaccard_pairs(d, "doc_id", "text"),
    "winnow": lambda d: winnow_overlap_pairs(d, "doc_id", "text", max_fp_df=None),
    "segment_dedup_stats": lambda d: quality.segment_dedup_stats(d, "doc_id", "text"),
    "segment_dedup_rewrite": lambda d: quality.segment_dedup_rewrite(
        d, "doc_id", "text"
    ),
    "duplicate_token_spans": lambda d: quality.duplicate_token_spans(
        d, "doc_id", "text"
    ),
}


@pytest.mark.parametrize("op", list(SIZED_BY_SPARK))
def test_spark_sizes_the_broadcast(spark, docs, op):
    """With Spark's broadcast threshold switched off, each operator gives
    the same rows as at the default threshold and its final plan holds
    no BroadcastHashJoin: nothing forces a broadcast past Spark's own
    byte sizing."""

    def run():
        out = SIZED_BY_SPARK[op](docs)
        rows = sorted(map(tuple, out.collect()))
        # after the action the adaptive plan is the final one
        return rows, out._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        default_rows, _ = run()
        spark.conf.set(key, "-1")
        off_rows, off_plan = run()
    finally:
        spark.conf.set(key, old)
        dedup.release_pins()
    assert default_rows and off_rows == default_rows
    assert "BroadcastHashJoin" not in off_plan


@pytest.mark.parametrize(
    "op", ["segment_dedup_stats", "segment_dedup_rewrite", "duplicate_token_spans"]
)
def test_building_the_plan_runs_no_job(spark, docs, op):
    """Building the operator's plan runs no Spark job: no count() or
    other eager action decides a join while the frame is built."""
    sc = spark.sparkContext
    group = f"plan-only-{op}"
    sc.setJobGroup(group, group)
    try:
        out = SIZED_BY_SPARK[op](docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert out.count() > 0
    finally:
        dedup.release_pins()


def _broadcast_exchanges(df) -> int:
    """BroadcastExchange nodes of a collected frame's final adaptive
    plan, the build plans of the cached relations it scans included
    (each cached relation counted once, however often it is scanned)."""
    n, stack, caches = 0, [df._jdf.queryExecution().executedPlan()], []
    while stack:
        p = stack.pop()
        name = p.nodeName()
        n += name == "BroadcastExchange"
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(p.plan())
        elif name == "InMemoryTableScan":
            cached = p.relation().cachedPlan()
            if not any(cached.equals(c) for c in caches):
                caches.append(cached)
                stack.append(cached)
        else:
            children = p.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return n


def test_simhash_broadcasts_the_survivor_mask_once(spark, corpus_1500):
    """Broadcast regime: the hot-bucket guard adds ONE broadcast of the
    per-doc survivor mask on top of the unguarded plan's index
    broadcast (plus one of the hot-key set once a bucket is hot), and
    where no bucket is hot it gives the unguarded rows."""
    from gobulk_spark.operators.text import simhash, simhash_near_dups

    path, pairs, _ = corpus_1500
    sig = simhash(spark.read.parquet(path), "image_id", "caption")

    def run(guard):
        out = simhash_near_dups(
            sig, "image_id", max_hamming=16, max_bucket_size=guard, n_rows=len(pairs)
        )
        try:
            return sorted(map(tuple, out.collect())), _broadcast_exchanges(out)
        finally:
            dedup.release_pins()

    off_rows, off_bx = run(None)
    auto_rows, auto_bx = run("auto")
    hot_rows, hot_bx = run(8)
    assert off_rows and auto_rows == off_rows
    assert auto_bx == off_bx + 1
    assert len(hot_rows) < len(off_rows)  # precondition: buckets are hot
    assert hot_bx == off_bx + 2


def test_phash_banding_finds_planted_duplicates(spark, corpus_1500):
    path, pairs, planted = corpus_1500
    src = spark.read.parquet(path)
    cand = phash_near_dup_images(src, max_hamming=8, max_bucket_size=256).toPandas()
    # exact duplicates share phash (hamming 0) and must all be found
    dup_ids = set(planted.loc[planted.planted == "dup_exact", "image_id"])
    found = set(cand["id_a"]) | set(cand["id_b"])
    assert dup_ids <= found
    assert (cand["hamming"] <= 8).all()


def test_ivf_ann_recall_vs_brute_force(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((400, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400), "embedding": list(map(list, vecs))})
    emb = spark.createDataFrame(pdf)
    query = [float(x) for x in vecs[0]]
    others = emb.where(F.col("vec_id") != 0)
    exact = [r.vec_id for r in similarity.brute_force_topk(others, query, k=10).collect()]
    approx = [
        r.vec_id
        for r in similarity.ivf_ann(others, query, dim=16, k=10, n_cells=8, n_probe=4).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5  # probing half the cells


def test_lsh_ann_subset_of_bucket(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((300, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": list(map(list, vecs))})
    emb = spark.createDataFrame(pdf)
    query = [float(x) for x in vecs[5]]
    got = similarity.lsh_bucket_ann(emb, query, dim=8, k=5, n_planes=4).toPandas()
    assert 5 in set(got["vec_id"])  # the query vector itself is in its bucket
    assert got["cosine"].iloc[0] >= got["cosine"].iloc[-1]


def test_banded_near_dup_recall_vs_exact(spark):
    """Recall >= 0.9 at cosine 0.6 vs the exact all-pairs baseline on
    the driver embeddings (VERDICT r01: the operator must not silently
    degenerate to zero candidates)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            emb, dim, min_cosine=0.4, band_planes=0
        ).collect()
    }
    assert exact, "precondition: the corpus has true pairs at cosine 0.4"
    banded = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            emb, dim, min_cosine=0.4, max_bucket_size=64  # auto-sized bands
        ).collect()
    }
    recall = len(banded & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} over {len(exact)} true pairs"
    assert banded <= exact  # exact cosine verify: no false positives


def test_band_sizing_scales_with_n():
    """Plane count must grow with n (guard-survival) and band count with
    the amplification needed at the threshold (found live: fixed r=4 on
    2000 vectors -> every bucket over the guard -> recall 0.009)."""
    b500, r500 = similarity.band_sizing(500, 0.4)
    b2k, r2k = similarity.band_sizing(2000, 0.4)
    assert r2k > r500  # finer buckets at larger n
    assert b2k > b500  # more bands to compensate the lower per-band hit
    # true near-dup thresholds stay cheap even at scale: ~20 bands at
    # 10M vectors/0.95 (p=0.899, r=20 -> p^r=0.12), vs the 64-band cap
    # that low thresholds hit
    b_hi, r_hi = similarity.band_sizing(10_000_000, 0.95)
    assert b_hi <= 24 and r_hi >= 16


def test_banded_near_dup_hot_bucket_guard(spark):
    """A degenerate corpus (every vector identical) lands in one bucket
    per band; the guard must drop those buckets instead of exploding
    into an n^2 join."""
    vec = [1.0] + [0.0] * 15
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [vec] * 300})
    emb = spark.createDataFrame(pdf)
    out = similarity.embedding_near_dup_pairs(
        emb, 16, min_cosine=0.9, n_bands=4, band_planes=2, max_bucket_size=64
    )
    assert out.count() == 0  # guarded away, not 300*299/2 pairs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # the guard is a broadcast left-anti join


def test_ivf_trained_codebook_beats_random(spark):
    """fit_ivf_centroids (sampled spherical k-means) must beat the
    training-free random codebook on the driver embeddings — both in
    top-10 recall (averaged over 5 queries) and in cell-occupancy
    balance. Fully seeded, so the comparison is deterministic."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    cents = similarity.fit_ivf_centroids(emb, dim, n_cells=16, seed=7)
    t_hits = r_hits = 0
    qids = [1, 101, 303, 707, 1111]
    for qid in qids:
        q = [float(x) for x in emb.where(F.col("vec_id") == qid).select("embedding").first()[0]]
        o = emb.where(F.col("vec_id") != qid)
        exact = {r.vec_id for r in similarity.brute_force_topk(o, q, k=10).collect()}
        trained = {
            r.vec_id
            for r in similarity.ivf_ann(
                o, q, dim, k=10, n_cells=16, n_probe=4, centroids=cents
            ).collect()
        }
        rand = {
            r.vec_id
            for r in similarity.ivf_ann(
                o, q, dim, k=10, n_cells=16, n_probe=4, train=False
            ).collect()
        }
        t_hits += len(trained & exact)
        r_hits += len(rand & exact)
    assert t_hits >= r_hits, f"trained {t_hits} < random {r_hits} (of {10*len(qids)})"
    assert t_hits >= 0.5 * 10 * len(qids)
    # trained Voronoi cells track the data: tighter occupancy spread
    occ_t = similarity.with_ivf_cell(emb, dim, 16, centroids=cents).groupBy("ivf_cell").count().toPandas()["count"]
    occ_r = similarity.with_ivf_cell(emb, dim, 16, seed=7).groupBy("ivf_cell").count().toPandas()["count"]
    assert len(occ_t) == 16  # no dead cells
    assert occ_t.max() - occ_t.min() < occ_r.max() - occ_r.min()


def test_asof_join_semantics_and_plan(spark):
    from gobulk_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 2, 3, 4], "k": ["a", "a", "a", "b"], "t": [5, 10, 3, 7]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "a", "a", "b"], "t": [4, 10, 8, 9], "v": [40, 100, 80, 90]}
        )
    )
    out = asof_join(
        left, right, by="k", ts_col="t", right_cols=("v",), tie_break="v"
    ).toPandas().set_index("id")
    assert out.loc[1, "asof_v"] == 40    # latest right at t<=5 is t=4
    assert out.loc[2, "asof_v"] == 100   # equal ts matches (t=10)
    assert pd.isna(out.loc[3, "asof_v"])  # nothing at-or-before t=3
    assert pd.isna(out.loc[4, "asof_v"])  # other key's rows invisible (b: t=9>7)
    # plan: ONE shuffle (the window's partitionBy) and NO join node —
    # the operator must not degrade into an equi-join + filter
    plan = (
        asof_join(left, right, by="k", ts_col="t", right_cols=("v",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_winnow_fingerprints_guarantees(spark):
    """Winnowing contracts (SIGMOD'03): identical docs -> identical
    fingerprint sets; any shared substring of length >= k+window-1
    yields >= 1 shared fingerprint (containment detection, which
    minhash can't do); density ~ 2/(window+1); disjoint alphabets
    share nothing."""
    from gobulk_spark.operators.text import winnow_fingerprints

    k, w = 5, 4
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    contained = "XXXXXX " + base[10:45] + " YYYYYY"  # shares a 35-char span
    rows = [
        (0, base),
        (1, base),                      # exact dup
        (2, contained),                 # partial overlap
        (3, "zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo pppp"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = winnow_fingerprints(df, "doc_id", "text", k=k, window=w).toPandas()
    sets = {i: set(g["fingerprint"]) for i, g in out.groupby("doc_id")}
    assert sets[0] == sets[1]                      # identical docs
    assert sets[0] & sets[2]                       # containment detected
    assert not (sets[0] & sets[3])                 # disjoint alphabets
    n_kgrams = len(base) - k + 1
    n_fp = len(out[out.doc_id == 0])
    assert n_fp <= n_kgrams
    assert n_fp >= (n_kgrams - w + 1) // w         # >= one per window stride
    # positions are local: every pos indexes a real k-gram of ITS doc
    lengths = {i: len(t) for i, t in rows}
    for i, g in out.groupby("doc_id"):
        assert g["pos"].between(0, lengths[i] - k).all()


def test_winnow_rolling_hash_matches_direct(spark):
    """The prefix-sum Karp-Rabin trick must equal the direct polynomial
    hash for every k-gram (uint64 wrap-around as the modulus)."""
    import numpy as np

    from gobulk_spark.operators.text import winnow_fingerprints

    text = "abcabcabcxyz"
    k = 3
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    # window=1 -> every k-gram hash is selected (min of singleton)
    out = winnow_fingerprints(df, "doc_id", "text", k=k, window=1).toPandas()
    B = np.uint64(1000003)

    def direct(s: str) -> int:
        with np.errstate(over="ignore"):  # mod-2^64 wrap IS the hash
            h = np.uint64(0)
            for ch in s.encode():
                h = h * B + np.uint64(ch)
            h ^= h >> np.uint64(33)      # same avalanche mix as the operator
            h *= np.uint64(0xFF51AFD7ED558CCD)
            h ^= h >> np.uint64(33)
        return int(h >> np.uint64(1))
    got = dict(zip(out.pos, out.fingerprint))
    for i in range(len(text) - k + 1):
        assert got[i] == direct(text[i : i + k].lower()), i
    # equal adjacent k-grams ("abc" at 0,3,6) hash identically
    assert got[0] == got[3] == got[6]


def test_winnow_overlap_supersedes_strong_jaccard(spark):
    """Winnowing candidates must cover every strong whole-document
    near-dup (jaccard >= 0.3) on the driver corpus — plus containment
    pairs jaccard can't see. Deterministic (no RNG anywhere)."""
    from gobulk_spark.operators.text import winnow_overlap_pairs

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jac = dedup.ngram_jaccard_pairs(d, "doc_id", "text", 2, 0.3, None).toPandas()
    strong = set(zip(jac.id_a, jac.id_b))
    assert strong, "precondition: corpus has strong near-dups"
    out = winnow_overlap_pairs(
        d, "doc_id", "text", k=16, window=8, min_shared=4, max_fp_df=32
    ).toPandas()
    got = set(zip(out.id_a, out.id_b))
    assert strong <= got
    assert len(got) < 500 * 499 / 20  # selective, not the all-pairs graph


def test_salted_join_equals_plain_join_and_spreads_hot_key(spark):
    from gobulk_spark.operators.relational import salted_join

    # pathological skew: one key owns 90% of the left side
    left = pd.DataFrame({
        "k": [1] * 900 + list(range(2, 102)),
        "v": range(1000),
    })
    right = pd.DataFrame({"k": list(range(1, 102)), "name": [f"n{i}" for i in range(1, 102)]})
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    plain = l.join(r, "k").toPandas().sort_values(["k", "v"]).reset_index(drop=True)
    salted = (
        salted_join(l, r, "k", n_salts=8)
        .toPandas()
        .sort_values(["k", "v"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(plain[["k", "v", "name"]], salted[["k", "v", "name"]])
    # the hot key's rows really fan out over several salt shards
    shards = (
        salted_join(l, r, "k", n_salts=8)
        .where(F.col("k") == 1)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert shards >= 4  # 900 rows over 8 salts land on >= 4 reducers
    # left join keeps unmatched rows exactly once
    l2 = spark.createDataFrame(pd.DataFrame({"k": [1, 999], "v": [0, 1]}))
    lj = salted_join(l2, r, "k", n_salts=4, how="left").toPandas()
    assert len(lj) == 2 and lj.loc[lj.k == 999, "name"].isna().all()


def test_asof_join_snapshot_is_atomic(spark):
    """A null attribute in the LATEST right row must not be backfilled
    from an OLDER right row — the carried snapshot is one struct, not
    per-column last(ignorenulls)."""
    from gobulk_spark.operators.asof import asof_join

    left = spark.createDataFrame(pd.DataFrame({"k": ["a"], "t": [12], "id": [1]}))
    right = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "a"], "t": [5, 10],
             "eid": [7, None], "price": [1.0, 2.0]}
        )
    )
    out = asof_join(left, right, by="k", ts_col="t", right_cols=("eid", "price")).toPandas()
    assert out.iloc[0]["asof_price"] == 2.0
    assert pd.isna(out.iloc[0]["asof_eid"])  # NOT 7 stitched from t=5


def test_asof_tie_break_null_loses(spark):
    """At equal timestamps a right row with a NULL tie-break field must
    lose to the highest non-null one (nulls_first ordering; note pandas
    NaN is a DOUBLE that Spark sorts GREATEST — use SQL nulls)."""
    from gobulk_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 9, 1)], schema="k string, t int, id int")
    right = spark.createDataFrame(
        [("a", 5, 3), ("a", 5, None), ("a", 5, 7)], schema="k string, t int, eid int"
    )
    out = asof_join(
        left, right, by="k", ts_col="t", right_cols=("eid",), tie_break="eid"
    ).collect()[0]
    assert out["asof_eid"] == 7


def test_asof_join_salted_equals_plain_under_skew(spark):
    """Round-4 skew variant: one key owns 50% of the rows. The salted
    operator must return EXACTLY the plain operator's rows while its
    plan spreads the hot key across (key, bucket) partitions."""
    import numpy as np

    from gobulk_spark.operators.asof import asof_join, asof_join_salted

    rng = np.random.default_rng(7)
    n = 4000
    # hot key owns half of both sides; 20 cold keys share the rest
    keys = ["hot" if i % 2 == 0 else f"k{i % 20}" for i in range(n)]
    lts = rng.integers(0, 100_000, n).tolist()
    rts = rng.integers(0, 100_000, n).tolist()
    left = spark.createDataFrame(
        [(k, int(t), i) for i, (k, t) in enumerate(zip(keys, lts))],
        "k string, t long, lid int",
    )
    right = spark.createDataFrame(
        [(k, int(t), int(t) * 3) for k, t in zip(keys, rts)],
        "k string, t long, v long",
    )
    plain = asof_join(left, right, by="k", ts_col="t", right_cols=("v",))
    salted = asof_join_salted(
        left, right, by="k", ts_col="t", right_cols=("v",), n_buckets=8
    )
    p = plain.toPandas().sort_values("lid").reset_index(drop=True)
    s = salted.toPandas().sort_values("lid").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(p, s)
    # plan spread: the window exchange partitions on (k, _bkt), not k
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan and "hashpartitioning(k" in plan


def test_asof_join_salted_tie_and_boundary_semantics(spark):
    """Ties at bucket boundaries and the >=-match rule must survive
    the salting: tied rows share a bucket (assignment is a pure
    function of ts) and carry-in only feeds buckets with no preceding
    right row."""
    import pandas as pd

    from gobulk_spark.operators.asof import asof_join, asof_join_salted

    rows_l = [("a", t, t) for t in range(0, 64)]
    # right rows only in the FIRST quarter: later buckets depend
    # entirely on cross-bucket carry-in
    rows_r = [("a", t, t * 10) for t in range(0, 16)]
    left = spark.createDataFrame(rows_l, "k string, t long, lid long")
    right = spark.createDataFrame(rows_r, "k string, t long, v long")
    for tb in (None, "v"):
        plain = (
            asof_join(left, right, "k", "t", ("v",), tie_break=tb)
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        salted = (
            asof_join_salted(
                left, right, "k", "t", ("v",), tie_break=tb, n_buckets=8
            )
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(plain, salted)
    # every left row at t>=16 reads the bucket-boundary carry (v=150)
    assert (salted.loc[salted.t >= 16, "asof_v"] == 150).all()


def test_asof_join_auto_selects_by_measured_skew(spark):
    """asof_join_auto must pick the salted rewrite ONLY when the probe
    measures a hot key: skewed input (one key = 50% of rows) takes the
    (key, bucket) spread plan; uniform input pays the plain operator's
    plan (no _bkt machinery) — and both return the plain results."""
    import numpy as np
    import pandas as pd

    from gobulk_spark.operators.asof import asof_join, asof_join_auto

    rng = np.random.default_rng(11)
    n = 2000

    def frames(keys):
        lts = rng.integers(0, 50_000, n).tolist()
        rts = rng.integers(0, 50_000, n).tolist()
        left = spark.createDataFrame(
            [(k, int(t), i) for i, (k, t) in enumerate(zip(keys, lts))],
            "k string, t long, lid int",
        )
        right = spark.createDataFrame(
            [(k, int(t), int(t) * 3) for k, t in zip(keys, rts)],
            "k string, t long, v long",
        )
        return left, right

    # skewed: auto must salt (plan partitions the window on (k, _bkt))
    lh, rh = frames(["hot" if i % 2 == 0 else f"k{i % 20}" for i in range(n)])
    hot = asof_join_auto(lh, rh, by="k", ts_col="t", right_cols=("v",), n_buckets=8)
    plan_hot = hot._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan_hot and "hashpartitioning(k" in plan_hot
    p = asof_join(lh, rh, by="k", ts_col="t", right_cols=("v",)).toPandas()
    pd.testing.assert_frame_equal(
        p.sort_values("lid").reset_index(drop=True),
        hot.toPandas().sort_values("lid").reset_index(drop=True),
    )

    # uniform: auto must NOT salt — plain single-window plan
    lu, ru = frames([f"k{i % 64}" for i in range(n)])
    cold = asof_join_auto(lu, ru, by="k", ts_col="t", right_cols=("v",), n_buckets=8)
    plan_cold = cold._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" not in plan_cold
    pd.testing.assert_frame_equal(
        asof_join(lu, ru, by="k", ts_col="t", right_cols=("v",))
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True),
        cold.toPandas().sort_values("lid").reset_index(drop=True),
    )


def test_max_key_share_probe_bounds(spark):
    """The probe is exact on its candidates: a 50%-share key measures
    0.5 (within integer rounding), and a uniform key set measures 0
    via the freqItems no-candidate proof or a sub-threshold share."""
    from gobulk_spark.operators.asof import max_key_share

    skew = spark.createDataFrame(
        [("hot" if i % 2 == 0 else f"k{i % 25}",) for i in range(1000)],
        "k string",
    )
    s = max_key_share(skew, "k", 0.125)
    assert abs(s - 0.5) < 0.01
    uniform = spark.createDataFrame(
        [(f"k{i % 50}",) for i in range(1000)], "k string"
    )
    assert max_key_share(uniform, "k", 0.125) <= 0.125


def test_salted_join_auto_selects_by_measured_skew(spark):
    """salted_join_auto pays the right-side replication ONLY when the
    probe measures a hot left key; both paths return the plain join's
    rows."""
    from gobulk_spark.operators.relational import salted_join_auto

    hot_left = spark.createDataFrame(
        [("hot" if i % 2 == 0 else f"k{i % 20}", i) for i in range(2000)],
        "k string, lid int",
    )
    right = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(20)] + [("hot", 999)],
        "k string, v int",
    )
    out_hot = salted_join_auto(hot_left, right, "k", n_salts=4)
    plan_hot = out_hot._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan_hot
    assert sorted(map(tuple, out_hot.collect())) == sorted(
        map(tuple, hot_left.join(right, "k").collect())
    )

    uni_left = spark.createDataFrame(
        [(f"k{i % 20}", i) for i in range(2000)], "k string, lid int"
    )
    out_uni = salted_join_auto(uni_left, right, "k", n_salts=4)
    plan_uni = out_uni._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in plan_uni
    assert sorted(map(tuple, out_uni.collect())) == sorted(
        map(tuple, uni_left.join(right, "k").collect())
    )


def test_max_key_share_measures_null_skew(spark):
    """NULL is a key for window-partitioning purposes: a null-heavy
    column must register as skew (round-5 review) so asof_join_auto
    salts the one-partition null straggler."""
    from gobulk_spark.operators.asof import asof_join, asof_join_auto
    from gobulk_spark.operators.relational import max_key_share

    rows = [(None if i % 2 == 0 else f"k{i % 20}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string")
    assert abs(max_key_share(df, "k", 0.125) - 0.5) < 0.01
    # and the auto as-of actually salts on it (plan spread on (k,_bkt))
    left = spark.createDataFrame(
        [(k[0], i, i) for i, k in enumerate(rows)], "k string, t long, lid long"
    )
    right = spark.createDataFrame(
        [(k[0], i, i * 3) for i, k in enumerate(rows)], "k string, t long, v long"
    )
    out = asof_join_auto(left, right, by="k", ts_col="t", right_cols=("v",), n_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan
    import pandas as pd

    pd.testing.assert_frame_equal(
        asof_join(left, right, by="k", ts_col="t", right_cols=("v",))
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True),
        out.toPandas().sort_values("lid").reset_index(drop=True),
    )
