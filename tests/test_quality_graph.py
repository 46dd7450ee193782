"""Curation-signal operators (quality.py) + dedup clustering (graph.py).

Properties over crafted micro-corpora with hand-computable answers, plus
a pure-python union-find cross-check for connected components (the same
independent-reference pattern as the recall tests).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypothesis import given, settings as hyp_settings
from hypothesis import strategies as st
from gobulk_spark.operators.graph import connected_components, dedup_clusters
from gobulk_spark.operators.quality import (
    contamination_check,
    hash_split,
    repetition_stats,
    segment_dedup_stats,
    stratified_sample,
    temperature_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- quality


def test_repetition_stats_hand_computed(spark):
    # "a b a b a": 2-grams = [a b, b a, a b, b a] -> top frac 2/4
    # 3-grams = [a b a, b a b, a b a] -> dup frac (3-2)/3
    df = _docs(spark, [(1, "a b a b a"), (2, "x y z w"), (3, "q")])
    out = {
        r["doc_id"]: r
        for r in repetition_stats(df, "doc_id", "text").collect()
    }
    assert out[1]["top_2gram_frac"] == 0.5
    assert out[1]["dup_3gram_frac"] == round(1 / 3, 6)
    assert out[2]["top_2gram_frac"] == round(1 / 3, 6)  # all distinct
    assert out[2]["dup_3gram_frac"] == 0.0
    # single-token doc: no n-grams at all -> defined as 0, not null/error
    assert out[3]["top_2gram_frac"] == 0.0 and out[3]["dup_3gram_frac"] == 0.0


def test_segment_dedup_planted_shared_segment(spark):
    shared = " ".join(f"s{i}" for i in range(8))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # noqa: E731
    df = _docs(
        spark,
        [
            (1, shared + " " + uniq("a")),  # 2 segments, 1 shared
            (2, shared + " " + uniq("b")),  # 2 segments, 1 shared
            (3, uniq("c")),  # 1 segment, unshared
        ],
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup_stats(df, "doc_id", "text").collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_shared_segments"] == 1
    assert out[1]["shared_frac"] == 0.5
    assert out[2]["n_shared_segments"] == 1
    assert out[3]["n_segments"] == 1 and out[3]["n_shared_segments"] == 0


def test_segment_boundaries_are_token_exact(spark):
    # 9 tokens -> segments [t0..t7], [t8]; a doc equal to the FIRST
    # segment must collide with it exactly (boundary off-by-one guard)
    nine = " ".join(f"t{i}" for i in range(9))
    first8 = " ".join(f"t{i}" for i in range(8))
    df = _docs(spark, [(1, nine), (2, first8)])
    out = {
        r["doc_id"]: r
        for r in segment_dedup_stats(df, "doc_id", "text").collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_shared_segments"] == 1
    assert out[2]["n_segments"] == 1 and out[2]["n_shared_segments"] == 1


def test_contamination_finds_planted_overlap_and_broadcasts(spark):
    ev = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    tr = _docs(
        spark,
        [
            (1, "x alpha beta gamma delta epsilon zeta y"),  # two shared 5-grams
            (2, "clean text with no overlap at all here"),
        ],
    )
    out = contamination_check(tr, ev, "doc_id", "text", n=5).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1
    assert out[0]["n_hit_ngrams"] == 2 and out[0]["n_eval_docs"] == 1
    plan = contamination_check(
        tr, ev, "doc_id", "text", n=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # eval side must never shuffle train


def test_hash_split_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, "doc_id").groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert 0.85 < counts["train"] / 2000 < 0.95
    # same rows, different partitioning -> identical assignment per id
    b = hash_split(df.repartition(17), "doc_id").select("doc_id", "split")
    a2 = hash_split(df, "doc_id").select("doc_id", "split")
    assert a2.exceptAll(b).isEmpty() and b.exceptAll(a2).isEmpty()
    # salt changes the assignment (different experiment, different split)
    c = hash_split(df, "doc_id", salt="v2").select("doc_id", "split")
    assert not a2.exceptAll(c).isEmpty()


def test_stratified_sample_rates_and_subset(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = stratified_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.1})
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert 0.4 < counts["en"] / 1500 < 0.6
    assert 0.05 < counts["de"] / 1500 < 0.16
    assert out.join(df, ["doc_id", "lang"], "left_anti").isEmpty()  # subset
    # deterministic: a second evaluation is identical
    out2 = stratified_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.1})
    assert out.exceptAll(out2).isEmpty()


def _temperature_expected(rows, target_total, alpha=0.0):
    """Independent pure-python water-filling + md5 gate (the test's own
    oracle, like the union-find cross-check for CC)."""
    import hashlib
    from collections import Counter

    counts = Counter(lang for _, lang in rows)
    total = sum(counts.values())
    if target_total >= total:
        rates = {s: 256 for s in counts}
    elif alpha == 0.0:
        c = 0
        while sum(min(n, c + 1) for n in counts.values()) <= target_total:
            c += 1
        rates = {s: 256 * min(n, c) // n for s, n in counts.items()}
    else:
        flo, fhi = 0.0, max(n / n**alpha for n in counts.values())
        for _ in range(80):
            mid = (flo + fhi) / 2
            if sum(min(n, mid * n**alpha) for n in counts.values()) <= target_total:
                flo = mid
            else:
                fhi = mid
        rates = {
            s: min(256, int(256 * min(n, flo * n**alpha)) // n)
            for s, n in counts.items()
        }
    kept = set()
    for doc_id, lang in rows:
        b = int(hashlib.md5(f"{doc_id}|{lang}".encode()).hexdigest()[:2], 16)
        if b < rates[lang]:
            kept.add((doc_id, lang))
    return kept, rates


def test_temperature_sample_alpha0_exact_level(spark):
    # en=100 de=50 fr=10, target 100: level c=45 (45+45+10=100; 46 -> 102)
    rows = (
        [(i, "en") for i in range(100)]
        + [(1000 + i, "de") for i in range(50)]
        + [(2000 + i, "fr") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "doc_id", "lang", target_total=100)
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}
    expected, rates = _temperature_expected(rows, 100)
    assert rates == {"en": 256 * 45 // 100, "de": 256 * 45 // 50, "fr": 256}
    assert got == expected
    # under-represented stratum is fully kept
    assert {(d, l) for d, l in rows if l == "fr"} <= got
    # partition-invariant
    got2 = {
        (r["doc_id"], r["lang"])
        for r in temperature_sample(
            df.repartition(13), "doc_id", "lang", target_total=100
        ).collect()
    }
    assert got2 == got


def test_temperature_sample_keep_all_and_empty(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    assert temperature_sample(df, "doc_id", "lang", 60).count() == 60
    assert temperature_sample(df, "doc_id", "lang", 10_000).count() == 60
    assert temperature_sample(df, "doc_id", "lang", 0).count() == 0


def test_temperature_sample_alpha1_uniform_rate(spark):
    rows = [(i, "en") for i in range(300)] + [(500 + i, "de") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "doc_id", "lang", 200, alpha=1.0)
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}
    expected, rates = _temperature_expected(rows, 200, alpha=1.0)
    assert got == expected
    # alpha=1 is uniform downsampling: one shared quantized rate
    assert len(set(rates.values())) == 1


def test_duplicate_token_spans_hand_computed(spark):
    """Lee-style exact spans on a crafted corpus: a 10-token run shared
    across two docs reports once per doc as one MAXIMAL span; a 7-token
    share (< k=8) reports nothing; within-doc repetition alone reports
    nothing (cross-doc distinct-doc semantics); short docs are safe."""
    from gobulk_spark.operators.quality import duplicate_token_spans

    shared10 = " ".join(f"s{i}" for i in range(10))
    shared7 = " ".join(f"t{i}" for i in range(7))
    rows = [
        # doc 1: 3 lead tokens, the shared 10, 2 tail tokens
        (1, "a b c " + shared10 + " x y"),
        # doc 2: the shared 10 at the very start, then unique tail
        (2, shared10 + " p q r"),
        # docs 3/4 share only 7 tokens: below k, no span
        (3, "m n " + shared7),
        (4, shared7 + " u v"),
        # doc 5: internal repetition only — never cross-doc
        (5, " ".join(["z1 z2 z3 z4 z5 z6 z7 z8"] * 2)),
        # doc 6: shorter than k tokens
        (6, "one two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"]): (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_token_spans(df, "doc_id", "text", k=8).collect()
    }
    # doc 1: tokens 4..13 (1-based) are the shared run
    assert out == {1: (4, 13, 10), 2: (1, 10, 10)}
    # partition invariance
    out2 = {
        (r["doc_id"]): (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_token_spans(
            df.repartition(5), "doc_id", "text", k=8
        ).collect()
    }
    assert out2 == out


def _spans_model(rows, k):
    """Brute-force reference: every duplicated k-window by dict, then a
    linear island merge — independent of the engine's dataflow."""
    from collections import defaultdict

    wins = defaultdict(set)  # window-text -> doc ids
    per_doc = {}
    for doc_id, text in rows:
        toks = text.split()
        per_doc[doc_id] = toks
        for i in range(len(toks) - k + 1):
            wins[" ".join(toks[i : i + k])].add(doc_id)
    out = set()
    for doc_id, toks in per_doc.items():
        dup_pos = sorted(
            i + 1
            for i in range(len(toks) - k + 1)
            if len(wins[" ".join(toks[i : i + k])]) > 1
        )
        run = []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                out.add((doc_id, run[0], run[-1] + k - 1, run[-1] + k - run[0]))
                run = []
            if p is not None:
                run.append(p)
    return out


@hyp_settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd".split()), min_size=0, max_size=12
        ),
        min_size=2,
        max_size=6,
    )
)
def test_duplicate_token_spans_matches_bruteforce_model(spark, docs):
    """Property: for ANY tiny corpus over a 4-word alphabet (dense with
    accidental shared runs, boundary-length docs), the engine's spans
    equal the brute-force dict model exactly."""
    from gobulk_spark.operators.quality import duplicate_token_spans

    k = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_token_spans(df, "doc_id", "text", k=k).collect()
    }
    assert got == _spans_model(rows, k)


def test_nb_token_classifier_separates_and_is_partition_invariant(spark):
    """Seed-labeled NB distillation: on a separable micro-corpus the
    held-out predictions match the true class; scores are exact BIGINT
    sums so any repartitioning gives bit-identical output; a token
    never seen in training scores the shared smoothed default instead
    of vanishing."""
    from gobulk_spark.operators.quality import nb_token_classifier

    pos_words = ["clean", "crisp", "useful", "clear"]
    neg_words = ["spam", "junk", "noise", "trash"]
    rows = []
    for i in range(40):
        w = pos_words if i % 2 == 0 else neg_words
        rows.append((i, " ".join(w[(i + j) % 4] for j in range(6)), i % 2 == 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    train = df.where(F.col("doc_id") < 30)
    test = df.where(F.col("doc_id") >= 30)
    out = nb_token_classifier(train, test, "doc_id", "text", "y")
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 10
    for i, _, y in rows[30:]:
        assert got[i]["keep"] == y, (i, got[i])
        assert got[i]["n_tokens"] == 6
    # partition invariance: exact same integer scores
    out2 = {
        r["doc_id"]: r["score_micro"]
        for r in nb_token_classifier(
            train.repartition(7), test.repartition(5), "doc_id", "text", "y"
        ).collect()
    }
    assert out2 == {k: v["score_micro"] for k, v in got.items()}
    # unseen tokens score the smoothed default, not nothing
    novel = spark.createDataFrame(
        [(99, "zzz qqq www")], "doc_id long, text string"
    )
    nres = nb_token_classifier(train, novel, "doc_id", "text", "y").collect()
    assert len(nres) == 1 and nres[0]["n_tokens"] == 3
    with pytest.raises(ValueError, match="alpha"):
        nb_token_classifier(train, test, "doc_id", "text", "y", alpha=0)




@hyp_settings(max_examples=8, deadline=None)
@given(
    hist=st.lists(
        st.integers(min_value=1, max_value=60), min_size=1, max_size=5
    ),
    frac=st.integers(min_value=0, max_value=120),
)
def test_temperature_sample_matches_model_on_random_histograms(
    spark, hist, frac
):
    """Property: for ANY stratum histogram and target, the kept set
    equals the independent pure-python water-filling + md5 gate model
    (level choice, rate quantization, and membership all exact)."""
    rows = [
        (s * 1000 + i, f"l{s}") for s, n in enumerate(hist) for i in range(n)
    ]
    target = sum(hist) * frac // 100
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        (r["doc_id"], r["lang"])
        for r in temperature_sample(
            df, "doc_id", "lang", target_total=target
        ).collect()
    }
    expected, rates = _temperature_expected(rows, target)
    assert got == expected
    # never keep more than the target allows (the level is the MAX
    # valid one, so kept <= target by construction at alpha=0)
    if target < sum(hist):
        by_lang = {}
        for _, lang in got:  # count the ENGINE's output, not the model's
            by_lang[lang] = by_lang.get(lang, 0) + 1
        # each downsampled stratum's EXPECTED kept count is the level;
        # the md5 gate quantizes to 256 buckets so the realized count
        # varies, but a fully-kept stratum is exact
        for s, n in enumerate(hist):
            if rates[f"l{s}"] == 256:
                assert by_lang.get(f"l{s}", 0) == n


def test_temperature_sample_filter_is_broadcast(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(200)],
        "doc_id long, lang string",
    )
    plan = _plan(temperature_sample(df, "doc_id", "lang", 100))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_per_doc_signals_are_zero_shuffle_and_jvm_only(spark):
    """The scale contract of the per-document operators: pure narrow
    projections — no exchange of any kind, no Python eval nodes.

    Round 6: repetition_stats may carry AT MOST one exchange — the
    deliberate, CONDITIONAL spread() repartition before its
    work-amplifying n-gram build (a single parquet row group is one
    scan task; measured 25.2 s -> 1.8 s at sf1.0; an already-split
    input — like this test's parallelized local frame — skips it).
    The signal computation itself stays a pure JVM projection."""
    df = _docs(spark, [(1, "a b c d e f g h i j")])
    rep_plan = _plan(repetition_stats(df, "doc_id", "text"))
    assert rep_plan.count("Exchange") <= 1, rep_plan
    for out in (
        hash_split(df, "doc_id"),
        stratified_sample(df, "doc_id", "text", {"x": 0.5}),
    ):
        plan = _plan(out)
        assert "Exchange" not in plan, plan
    for plan in (
        rep_plan,
        _plan(hash_split(df, "doc_id")),
        _plan(stratified_sample(df, "doc_id", "text", {"x": 0.5})),
    ):
        for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py_node not in plan, plan


# ------------------------------------------------------------------ graph


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (4, 5)],  # chain + pair
        [(10, 11), (11, 12), (10, 12), (20, 21)],  # triangle + pair
        [(i, i + 1) for i in range(1, 12)],  # long chain (diameter test)
        [(5, 9), (9, 2), (7, 7)],  # self-loop + relabel to min
    ],
)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _uf_components(edges)
    # both execution paths must produce the identical min-label output:
    # driver union-find (small-graph shortcut) and distributed
    # pointer-jumping propagation (driver_threshold=0 forces it)
    for thr in (65536, 0):
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(df, driver_threshold=thr).collect()
        }
        assert got == want, thr


def test_cc_pointer_jumping_beats_diameter(spark):
    # a 64-node chain has diameter 63; plain min-label propagation needs
    # ~63 rounds, pointer jumping O(log d). max_iter=10 only passes if
    # the jump is actually shortening the label tree. driver_threshold=0
    # forces the distributed path (the driver shortcut would hide it).
    edges = [(i, i + 1) for i in range(1, 64)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = connected_components(df, max_iter=10, driver_threshold=0).collect()
    assert all(r["cluster_id"] == 1 for r in got) and len(got) == 64


def test_dedup_clusters_sizes_and_survivor(spark):
    pairs = spark.createDataFrame(
        [(3, 1), (1, 2), (9, 8)], "id_a long, id_b long"
    )
    rows = dedup_clusters(pairs).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert by_doc[1]["cluster_id"] == 1 and by_doc[3]["cluster_id"] == 1
    assert by_doc[1]["cluster_size"] == 3
    assert by_doc[8]["cluster_id"] == 8 and by_doc[8]["cluster_size"] == 2
    # survivor rule: cluster_id is always the min doc_id of the cluster
    for r in rows:
        assert r["cluster_id"] <= r["doc_id"]


def test_simhash_degenerate_whitespace_matches_oracle_tokenization(spark):
    """The simhash UDF tokenizes with ' +' over space-trimmed text — the
    exact semantics of text.tokens() and the SQL oracle. Empty text is
    the [''] token (signature = md5('')'s top 8 bytes, since a single
    token's bits win every vote); tabs stay inside tokens."""
    import hashlib

    from gobulk_spark.operators.text import simhash

    df = _docs(spark, [(1, ""), (2, "  a   b  "), (3, "a b"), (4, "a\tb")])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    # a single token's bits win every vote, so the signature IS its
    # md5 hash — in the UDF's byte-permuted layout (numpy view(uint8)
    # is little-endian): benign because hamming, the only consumer, is
    # permutation-invariant, which is why the SQL oracle (big-endian
    # signatures) still matches the pair output bit-for-bit
    h_empty = int.from_bytes(hashlib.md5(b"").digest()[:8], "little")
    expect_empty = h_empty - (1 << 64) if h_empty >= 1 << 63 else h_empty
    assert sigs[1] == expect_empty
    assert sigs[2] == sigs[3]  # leading/trailing/multi-space invariance
    assert sigs[4] != sigs[3]  # tab is NOT a separator (token 'a\tb')


def test_segment_dedup_rewrite_removes_shared_segments(spark):
    """The C4-style removal transformation: a segment planted in two
    docs is cut from BOTH, unique segments survive in order, and a doc
    made entirely of shared segments rewrites to the empty string."""
    from gobulk_spark.operators.quality import segment_dedup_rewrite

    shared = " ".join(f"s{i}" for i in range(8))
    u1 = " ".join(f"a{i}" for i in range(8))
    u2 = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{u1} {shared}"),          # unique + shared
            (2, f"{shared} {u2}"),          # shared + unique
            (3, shared),                    # all shared -> empty
            (4, "lonely words only here"),  # nothing shared
        ],
        "doc_id long, text string",
    )
    out = (
        segment_dedup_rewrite(docs, "doc_id", "text", seg_len=8, max_df=1)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "clean_text"] == u1 and out.loc[1, "n_removed"] == 1
    assert out.loc[2, "clean_text"] == u2 and out.loc[2, "n_removed"] == 1
    assert out.loc[3, "clean_text"] == "" and out.loc[3, "n_removed"] == 1
    assert out.loc[4, "clean_text"] == "lonely words only here"
    assert out.loc[4, "n_removed"] == 0
    assert out["n_segments"].tolist() == [2, 2, 1, 1]


def test_segment_dedup_rewrite_preserves_order(spark):
    """Surviving segments keep their original order even when removed
    segments interleave them."""
    from gobulk_spark.operators.quality import segment_dedup_rewrite

    hot = " ".join(f"h{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (1, f"p0 p1 p2 p3 {hot} q0 q1 q2 q3 {hot} r0 r1 r2 r3"),
            (2, hot),
        ],
        "doc_id long, text string",
    )
    out = (
        segment_dedup_rewrite(docs, "doc_id", "text", seg_len=4, max_df=1)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "clean_text"] == "p0 p1 p2 p3 q0 q1 q2 q3 r0 r1 r2 r3"
    assert out.loc[1, "n_removed"] == 2


def test_pack_sequences_matches_global_cumsum(spark):
    """The distributed prefix sum (range partition + local cumsums +
    driver offsets) must equal the single global-window cumsum, and be
    invariant to the input's partitioning."""
    import hashlib

    import numpy as np
    import pandas as pd

    from gobulk_spark.operators.quality import pack_sequences

    rng = np.random.default_rng(3)
    rows = [
        (i, " ".join("w" for _ in range(int(rng.integers(1, 40)))))
        for i in range(500)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exp = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "n_tokens": [len(r[1].split()) for r in rows],
            "h": [hashlib.md5(str(r[0]).encode()).hexdigest() for r in rows],
        }
    ).sort_values(["h", "doc_id"])
    exp["cum"] = exp["n_tokens"].cumsum()
    exp["seq_id"] = (exp["cum"] - exp["n_tokens"]) // 64

    for parts in (1, 7):
        got = (
            pack_sequences(
                docs.repartition(parts), "doc_id", "text", budget=64,
                n_partitions=5,
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = (
            exp[["doc_id", "n_tokens", "seq_id"]]
            .sort_values("doc_id")
            .reset_index(drop=True)
            .astype({"n_tokens": "int64", "seq_id": "int64"})
        )
        pd.testing.assert_frame_equal(got.astype({"seq_id": "int64"}), want)
    # with every doc shorter than the budget no bucket is skipped:
    # seq ids are dense 0..max (a gap needs a doc spanning a whole
    # bucket). A per-seq fill floor would be WRONG: an overflowing doc
    # counts its tokens to the sequence it starts in, so the next
    # sequence legitimately totals under the budget.
    assert sorted(got.seq_id.unique()) == list(range(got.seq_id.max() + 1))


def test_pack_sequences_overflow_doc_gets_one_sequence(spark):
    """A document longer than the budget still belongs to exactly the
    sequence it starts in (greedy fill with overflow)."""
    from gobulk_spark.operators.quality import pack_sequences

    docs = spark.createDataFrame(
        [(1, " ".join("x" for _ in range(200))), (2, "a b c")],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, "doc_id", "text", budget=64).toPandas()
    assert sorted(out.n_tokens.tolist()) == [3, 200]
    assert out.seq_id.nunique() <= 2  # no doc is split across sequences


def test_dsir_weights_favor_target_like_docs(spark):
    """A raw doc written in the target corpus's vocabulary must outscore
    one written in the raw pool's own vocabulary, and weights must be
    partition-invariant (exact integer sums by construction)."""
    from gobulk_spark.operators.quality import dsir_importance_weights

    target_text = "alpha beta gamma delta " * 10
    raw_noise = "zzz yyy xxx www vvv uuu " * 10
    rows = [(i, raw_noise, "raw") for i in range(2, 20)]
    rows += [(0, target_text, "raw"), (1, raw_noise, "raw")]
    trows = [(100 + i, target_text, "tgt") for i in range(5)]
    df = spark.createDataFrame(rows + trows, "doc_id long, text string, src string")
    raw = df.where("src = 'raw'")
    tgt = df.where("src = 'tgt'")
    out = dsir_importance_weights(raw, tgt, "doc_id", "text").toPandas()
    w = out.set_index("doc_id")["weight_micro"]
    assert w[0] > w[1]  # target-like doc wins
    assert (out.groupby("doc_id").size() == 1).all()
    out2 = dsir_importance_weights(
        raw.repartition(7), tgt.repartition(3), "doc_id", "text"
    ).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True),
        out2.sort_values("doc_id").reset_index(drop=True),
    )
