"""Training-data curation signals: repetition, cross-doc segment dedup,
benchmark contamination, deterministic splits and stratified sampling.

These are the corpus-hygiene operators an LLM data pipeline runs after
the per-row quality rules (gobulk's Plan phase, planner.go:44-111) and
before training: Gopher-style repetition signals (Rae et al. 2021 §A1.1),
CCNet-style shared-segment detection (Wenzek et al. 2020 — paragraph
dedup re-expressed over fixed-width token segments, since this corpus is
single-line), eval-set n-gram contamination checks (GPT-3 paper §C), and
hash-based deterministic splits (reproducibility: the split must not
change when the corpus is re-partitioned or re-ordered).

Design rules, in force throughout:
- per-document signals are pure column expressions (zero shuffle,
  whole-stage codegen) — at 10^12 rows a shuffle for a per-row stat is
  the difference between a map job and a cluster-wide sort;
- corpus-wide signals (segment document-frequency, contamination) shuffle
  on the *hash*, never the text, and the eval side of contamination is
  broadcast (benchmarks are small by construction);
- everything md5/ASCII so DuckDB oracles reproduce results bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens


from .text import ngram_array as _ngram_occurrences  # multiset, in order

#: broadcast the duplicated-window-hash set in duplicate_token_spans
#: when it holds at most this many rows (8-byte longs; ~32 MiB framed)
DUP_HASH_BROADCAST_ROWS = int(
    os.environ.get("GOBULK_DUP_BCAST_ROWS", str(4_000_000))
)


def _top_frac_of_sorted(s: Column) -> Column:
    """Top-n-gram fraction from a pre-SORTED n-gram array column:
    longest equal run / total, in ONE aggregate pass (O(len) per row).
    The sorted-run form is deliberate — NOT the obvious
    count-each-distinct-with-filter nesting: Catalyst inlines (not
    CSEs) expressions referenced inside higher-order-function lambdas,
    so filter-inside-transform re-derives the whole n-gram array per
    element — measured 380 s over 5k 100-token docs."""
    run = F.aggregate(
        s,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return F.when(F.size(s) > 0, run["best"] / F.size(s)).otherwise(F.lit(0.0))


def _dup_frac_of(g: Column) -> Column:
    """Duplicate-n-gram fraction from an n-gram array column:
    (total - distinct) / total."""
    return F.when(
        F.size(g) > 0,
        (F.size(g) - F.size(F.array_distinct(g))) / F.size(g),
    ).otherwise(F.lit(0.0))


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 2, dup_n: int = 3
) -> DataFrame:
    """Per-document repetition signals — one narrow projection, no UDF.

    Round-6 shape: the two n-gram arrays are HOISTED into bound columns
    of their own projection before the stats reference them.
    CollapseProject declines to inline a non-cheap alias consumed more
    than once (SPARK-36718), so each zip_with n-gram build runs exactly
    once per row, where the inlined-column form re-evaluated the
    tokenize+zip_with chain up to 3x per stat (these HOF expressions
    are CodegenFallback — interpreted, no subexpression elimination).
    Together with spread() (one parquet row group = one scan task
    otherwise) this took the sf1.0 leg from 25.2 s to 0.98 s with
    bit-identical output."""
    from .text import spread

    d = spread(df, id_col)
    d = d.withColumn(
        "_g_top", F.array_sort(_ngram_occurrences(F.col(text_col), top_n))
    ).withColumn("_g_dup", _ngram_occurrences(F.col(text_col), dup_n))
    return d.select(
        id_col,
        F.round(_top_frac_of_sorted(F.col("_g_top")), 6).alias(
            f"top_{top_n}gram_frac"
        ),
        F.round(_dup_frac_of(F.col("_g_dup")), 6).alias(f"dup_{dup_n}gram_frac"),
    )


def segment_hashes(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 8
) -> DataFrame:
    """(id, seg_hash) for consecutive non-overlapping seg_len-token
    segments — the CCNet paragraph-hash analogue for single-line docs.
    Only the 32-char md5 leaves the row; segment text never shuffles."""
    from .text import spread

    df = spread(df, id_col)  # one row group = one scan task otherwise
    toks = tokens(F.col(text_col))
    n_seg = F.ceil(F.size(toks) / F.lit(seg_len)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(toks, i * seg_len + 1, F.lit(seg_len)))
        ),
    )
    return df.select(id_col, F.explode(segs).alias("seg_hash"))


def segment_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 8
) -> DataFrame:
    """Per-doc shared-segment stats: how much of each document is made of
    segments that also appear in OTHER documents (count distinct docs per
    segment hash > 1). The corpus-wide part is two narrow shuffles on the
    md5 key — segment document-frequency, then the per-doc rollup; both
    partial-aggregate map-side.
    """
    from .dedup import pin

    # round 6: the per-doc rollup only needs each segment's boolean
    # "appears in >1 docs", so instead of joining the FULL
    # document-frequency table back onto every segment row (a shuffled
    # join of the whole segment frame), the SHARED hash set — usually a
    # small fraction — is broadcast and counted via one semi-join.
    # Above the broadcast cap the old full join stands. The segment
    # frame is pinned: the frequency aggregate and the rollup both
    # consume it.
    seg = pin(segment_hashes(df, id_col, text_col, seg_len))
    hot = (
        seg.groupBy("seg_hash")
        .agg(F.countDistinct(id_col).alias("_ndocs"))
        .where(F.col("_ndocs") > 1)
        .select("seg_hash")
    )
    if hot.count() <= DUP_HASH_BROADCAST_ROWS:
        n_shared = (
            seg.join(F.broadcast(hot), "seg_hash", "left_semi")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("_n_sh"))
        )
        totals = seg.groupBy(id_col).agg(
            F.count("*").cast("long").alias("n_segments")
        )
        out = totals.join(n_shared, id_col, "left")
        sh = F.coalesce(F.col("_n_sh"), F.lit(0).cast("long"))
        return out.select(
            id_col,
            "n_segments",
            sh.alias("n_shared_segments"),
            F.round(sh / F.col("n_segments"), 6).alias("shared_frac"),
        )
    dfreq = seg.groupBy("seg_hash").agg(
        F.countDistinct(id_col).alias("_ndocs")
    )
    shared = F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
    return (
        seg.join(dfreq, "seg_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            shared.cast("long").alias("n_shared_segments"),
            F.round(shared / F.count("*"), 6).alias("shared_frac"),
        )
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Train documents sharing >=1 word n-gram with any eval document.

    The eval side is distinct n-grams of the benchmark set — small by
    construction (benchmarks are thousands of rows, the corpus 10^12), so
    it is broadcast: contamination is a map-side hash probe over the
    train scan, no corpus shuffle at all. Output: contaminated train doc
    ids with distinct hit-gram and eval-doc counts.
    """
    from .text import shingles  # distinct-set semantics is right here
    from .text import spread

    # round 6: probe on xxhash64(gram) — the gram text never leaves its
    # map stage, the broadcast map keys 8-byte longs instead of ~25-char
    # strings, and both distinct counts are collision-invariant up to
    # 64-bit collisions (same accepted bound as the jaccard shingle key)
    tr = (
        spread(train, id_col)
        .select(id_col, F.explode(shingles(F.col(text_col), n)).alias("_g"))
        .select(id_col, F.xxhash64("_g").alias("g"))
    )
    ev = (
        eval_df.select(
            F.col(id_col).alias("_eval_id"),
            F.explode(shingles(F.col(text_col), n)).alias("_g"),
        )
        .select("_eval_id", F.xxhash64("_g").alias("g"))
        .dropDuplicates(["_eval_id", "g"])
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy(id_col)
        .agg(
            F.countDistinct("g").cast("long").alias("n_hit_ngrams"),
            F.countDistinct("_eval_id").cast("long").alias("n_eval_docs"),
        )
    )


def _hex_threshold(frac: float) -> str:
    """First-two-hex-digit threshold for an md5-prefix Bernoulli gate:
    P(substr(md5,1,2) < format(k,'02x')) = k/256. Granularity 1/256 —
    the standard trade for a split that any engine (and any future
    re-implementation) reproduces from the hex string alone.

    frac >= 1 must NOT format 256 as '100': lexicographically '100' <
    'f3' (string compare, not numeric), which would INVERT a keep-all
    gate into keep-~6%. 'g0' is 2 chars and above every hex prefix —
    a true keep-everything threshold."""
    k = max(0, min(256, int(frac * 256)))
    if k >= 256:
        return "g0"
    return format(k, "02x")


def hash_split(
    df: DataFrame,
    id_col: str,
    train_frac: float = 0.9,
    val_frac: float = 0.05,
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test assignment from md5 of the id.

    Never `rand()`: the assignment must be a pure function of the row id
    so re-runs, re-partitions, and incremental appends keep every row in
    its split (leakage-free by construction). Zero shuffle.
    """
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    b = F.substring(key, 1, 2)
    t_train = _hex_threshold(train_frac)
    t_val = _hex_threshold(train_frac + val_frac)
    return df.withColumn(
        "split",
        F.when(b < t_train, "train").when(b < t_val, "val").otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_frac: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling (e.g. language rebalancing):
    keep a row iff md5(id|stratum) lands under the stratum's threshold.
    Same zero-shuffle / re-run-stable rationale as hash_split; unlike
    df.sampleBy, membership is independent of partitioning and rng."""
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit("|"), F.col(strata_col))
    )
    b = F.substring(key, 1, 2)
    thr: Column = F.lit(_hex_threshold(default_frac))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(_hex_threshold(frac))
        ).otherwise(thr)
    return df.where(b < thr)


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    target_total: int,
    alpha: float = 0.0,
) -> DataFrame:
    """Temperature-based domain-mixture resampling (the alpha-sampling
    of Conneau et al. 2020, XLM-R §3.1): downsample over-represented
    strata (languages, domains) so the kept corpus totals at most
    ``target_total`` rows, with the mixture flattened toward
    ``n_i ** alpha``.

    The kept count per stratum is ``m_i = min(n_i, lam * n_i**alpha)``
    for the largest water level ``lam`` with ``sum(m_i) <=
    target_total``.  At the default ``alpha=0`` this is the classic
    integer LEVEL ``c``: strata at or below the level are fully kept,
    larger ones are cut to it — and every arithmetic step stays
    integer-exact (the level is found by integer binary search, rates
    quantized to ``256 * min(n, c) // n`` md5 buckets), so a SQL oracle
    can re-derive the identical level closed-form from the sorted
    histogram.  ``alpha > 0`` bisects the continuous level; ``alpha=1``
    degenerates to one uniform rate across all strata.

    Membership is md5-gated like hash_split / stratified_sample: a row
    is kept iff the first md5 byte of ``id|stratum`` falls below the
    stratum's quantized rate — deterministic, partition/rerun-
    invariant, and stable under incremental appends.  Rows with a NULL
    stratum have no mixture identity and are dropped.

    Scale shape: one map-side-combined groupBy builds a histogram of L
    longs on the driver, the level search is O(L log max_n) driver
    arithmetic, and the filter itself is a broadcast-joined pure column
    predicate — the data rows never shuffle.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
        if r[0] is not None
    }
    if not counts:
        return df.where(F.lit(False))
    total = sum(counts.values())
    t = int(target_total)
    if t >= total:
        rates = {s: 256 for s in counts}
    elif alpha == 0.0:
        # largest integer level c with sum(min(n_i, c)) <= t; kept() is
        # monotone so the closed-form segment-scan oracle finds the same c
        lo, hi = 0, max(counts.values())
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sum(min(n, mid) for n in counts.values()) <= t:
                lo = mid
            else:
                hi = mid - 1
        rates = {s: 256 * min(n, lo) // n for s, n in counts.items()}
    else:
        flo, fhi = 0.0, max(n / (n**alpha) for n in counts.values())
        for _ in range(80):
            mid = (flo + fhi) / 2
            if sum(min(n, mid * n**alpha) for n in counts.values()) <= t:
                flo = mid
            else:
                fhi = mid
        rates = {
            s: min(256, int(256 * min(n, flo * n**alpha)) // n)
            for s, n in counts.items()
        }
    strata_type = df.schema[strata_col].dataType
    thr_df = df.sparkSession.createDataFrame(
        sorted(rates.items()),
        StructType(
            [
                StructField(strata_col, strata_type, False),
                StructField("_t_l", LongType(), False),
            ]
        ),
    )
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit("|"), F.col(strata_col))
    )
    bucket = F.conv(F.substring(key, 1, 2), 16, 10).cast("long")
    return (
        df.join(F.broadcast(thr_df), strata_col)
        .where(bucket < F.col("_t_l"))
        .drop("_t_l")
    )


def segment_dedup_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 8,
    max_df: int = 1,
) -> DataFrame:
    """The C4-style REMOVAL transformation (Raffel et al. 2020 cut
    duplicated three-sentence spans; CCNet dropped duplicated
    paragraphs): rewrite each document with every segment whose corpus
    document-frequency exceeds ``max_df`` removed, preserving the order
    of the surviving segments.

    Scale shape: segment document-frequency shuffles only 32-char md5
    hashes (as segment_dedup_stats); the per-doc removal set is a list
    of INT positions (tiny), joined back to the text on the primary
    key — the one text-bearing join, co-partitioned/bucketed at
    warehouse scale, broadcast when the removal set is small (AQE).
    The rebuild is a pure column expression (filter + transform over
    token slices), so the text never crosses an exchange.

    Output: (id, n_segments, n_removed, clean_text); whitespace is
    normalized to single spaces (both engines tokenize on ' +', so the
    DuckDB oracle reproduces the rebuild bit-for-bit).
    """
    from .text import spread

    # the token array is PROJECTED to a bound column before any lambda
    # touches it — defense against the lambda re-inline trap
    # (ngram_array's docstring): an attribute reference inside a
    # higher-order-function lambda is a plain row-field read, immune to
    # Catalyst's no-CSE-across-lambda-scopes behavior. (Measured on
    # this shape: Spark 4.1 showed no penalty either way at 50
    # segments/doc — the hoist is free insurance, not a hot fix.)
    toks = F.col("_toks")
    n_seg = F.ceil(F.size(toks) / F.lit(seg_len)).cast("int")
    seg_at = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * seg_len + 1, F.lit(seg_len))
    )
    from .dedup import pin

    with_toks = spread(df, id_col).withColumn("_toks", tokens(F.col(text_col)))
    # pinned: the frequency aggregate AND the removal-set probe both
    # consume the segment explode — unpinned, the tokenize+md5 explode
    # ran once per consumer (round 6); the over-frequent hash set is
    # broadcast below the shared row cap so the probe stays map-side
    segs = pin(
        with_toks.select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1), lambda i: F.md5(seg_at(i))
                )
            ).alias("pos", "seg_hash"),
        )
    )
    hot = (
        segs.groupBy("seg_hash")
        .agg(F.countDistinct(id_col).alias("_ndocs"))
        .where(F.col("_ndocs") > max_df)
        .select("seg_hash")
    )
    if hot.count() <= DUP_HASH_BROADCAST_ROWS:
        hot = F.broadcast(hot)
    removed = (
        segs.join(hot, "seg_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_rm"))
    )
    out = with_toks.join(removed, id_col, "left")
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.sequence(F.lit(0), n_seg - 1), lambda i: ~F.array_contains(rm, i)
    )
    return out.select(
        id_col,
        n_seg.cast("long").alias("n_segments"),
        F.size(rm).cast("long").alias("n_removed"),
        F.concat_ws(" ", F.transform(kept_idx, seg_at)).alias("clean_text"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 512,
    n_partitions: int | None = None,
) -> DataFrame:
    """Pack documents into fixed token-budget training sequences —
    fill-in-hash-order packing: documents ordered by md5(id) (a
    deterministic global shuffle of the corpus, the same trick as
    hash_split) are laid head-to-tail and cut into ``budget``-token
    sequences; each document's seq_id = floor(exclusive_prefix_sum /
    budget). A document that straddles a boundary belongs to the
    sequence it starts in (greedy fill with overflow — the standard
    concat-then-chunk pretraining loader shape).

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global window: a
    single `sum() over (order by ...)` is one partition doing all the
    work. Instead: range-partition by the hash (global order becomes
    partition-index order), per-partition cumsums run in parallel
    windows, per-partition totals (one row each) come to the driver,
    and each partition adds its exclusive offset. Exactly equal to the
    global cumsum, at full parallelism; the only driver data is
    n_partitions longs.

    Output: (id, n_tokens, seq_id). Oracle: the plain global-window
    cumsum in DuckDB over the same md5 order — provable equality of
    the distributed rewrite.
    """
    from .text import spread

    n_parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    h = F.md5(F.col(id_col).cast("string"))
    # spread before the tokenize: the size(tokens) count is the per-row
    # work here and must not run inside a single-row-group scan task
    df = spread(df, id_col)
    t = df.select(
        F.col(id_col),
        h.alias("_h"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    # ties on the (astronomically unlikely) md5 collision break by id:
    # the order must be total or the two engines could disagree
    t = t.repartitionByRange(n_parts, "_h", id_col).sortWithinPartitions(
        "_h", id_col
    )
    # pin the partitioned frame: it is consumed twice (totals, then the
    # cumsum) and the pin registry releases the cache when the caller
    # is done (a localCheckpoint here leaked its blocks until GC).
    # Safe under cache eviction: Spark's range sampling is seeded per
    # partition index — task retries and plan re-executions over the
    # same input re-draw identical boundaries (the property shuffle
    # retries themselves depend on), so _pid is stable.
    from .dedup import pin

    t = pin(t.withColumn("_pid", F.spark_partition_id()))
    # n_partitions rows to the driver — the entire cross-partition state
    totals = {
        r["_pid"]: r["_tok"]
        for r in t.groupBy("_pid").agg(F.sum("n_tokens").alias("_tok")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    spark = df.sparkSession
    # tiny broadcast lookup, NOT an O(n_partitions)-deep when-chain: a
    # per-row nested CASE over thousands of cluster partitions is
    # O(rows x partitions) eval and risks analysis-time stack overflow
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_pid")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w) + F.col("_off")
    return t.join(F.broadcast(off_df), "_pid").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.floor((cum - F.col("n_tokens")) / F.lit(budget)).alias("seq_id"),
    )


def _bucket_occurrences(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, _b) per n-gram OCCURRENCE, where _b is the first-two-hex
    md5 bucket — ONE definition of the hashed-bucket contract shared by
    dsir_importance_weights and nb_token_classifier (their SQL oracles
    re-derive exactly this; two drifting copies would be a silent
    oracle split)."""
    # keyless round-robin spread (one row group = one scan task
    # otherwise): the carried column may be a LABEL
    # (nb_token_classifier passes the boolean class), so hashing it
    # would collapse everything into 2 partitions; sort-before-
    # repartition keeps round-robin deterministic under task retries.
    # Conditional like text.spread: an already-split table skips it.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= n_part:
            n_part = None
    except Exception:
        pass
    if n_part is not None:
        df = df.repartition(n_part)
    return df.select(
        F.col(id_col),
        F.explode(_ngram_occurrences(F.col(text_col), shingle_n)).alias("_g"),
    ).select(id_col, F.substring(F.md5("_g"), 1, 2).alias("_b"))


def _round_half_away(v: float) -> int:
    """Half-away-from-zero to match Spark F.round and DuckDB round —
    Python's built-in round() is banker's (half-to-even), a different
    tie-break that would split an exact-to-the-integer oracle on a .5
    boundary."""
    import math as _math

    return int(_math.copysign(_math.floor(abs(v) + 0.5), v))


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    alpha: float = 1.0,
    micro: int = 1_000_000,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed n-gram features are
    under a small TARGET corpus's bucket unigram LM than under the raw
    pool's own — the standard recipe for skewing a web crawl toward a
    quality domain before training.

    Buckets are the first two hex chars of md5(n-gram) (256 buckets —
    the same md5-prefix determinism discipline as hash_split, exactly
    reproducible in any engine). The per-bucket log-likelihood-ratio
    contribution is rounded to integer MICRO-units before any
    summation, so document weights are exact BIGINT sums — invariant
    to partitioning and float-addition order, and hash-comparable
    against a SQL oracle (a raw double sum would be order-dependent at
    the ulp level).

    Scale shape: the target side collapses to a 256-row bucket table
    (broadcast); raw grams shuffle only (id, 2-char bucket) pairs, and
    the weight aggregation is a map-side-combined integer sum. Output:
    (id, n_grams, weight_micro) for every raw doc with at least one
    n-gram; downstream selection is orderBy(weight_micro)/limit or a
    weight-thresholded filter.
    """
    if alpha <= 0:
        # ln(0) on any bucket unseen in one corpus — smoothing is what
        # makes the ratio total; checked before any plan is built or
        # pinned (a post-pin raise would leave a registered cache)
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from .dedup import pin

    n_buckets = 256

    def occ(df: DataFrame) -> DataFrame:
        return _bucket_occurrences(df, id_col, text_col, shingle_n)

    # pinned: two consumers (bucket counts, per-doc agg) would each
    # re-run the n-gram explode; the registry owns release
    r_occ = pin(occ(raw))
    # ONE aggregation pass per side: the <=256-row bucket histograms are
    # collected and re-registered as LOCAL frames, so the grand totals
    # are exact Python integer sums (no extra count() actions — the
    # former separate counts re-ran the whole target explode and
    # rescanned the raw cache) and the contrib computation below joins
    # two local 256-row relations instead of re-evaluating aggregate
    # subtrees. The log-likelihood expressions stay Spark-side
    # (F.log/F.round over the same values), so contributions are
    # bit-identical to the former plan (round 6).
    spark = raw.sparkSession
    tb_rows = occ(target).groupBy("_b").agg(F.count("*").alias("ct_t")).collect()
    rb_rows = r_occ.groupBy("_b").agg(F.count("*").alias("ct_r")).collect()
    n_t = sum(r["ct_t"] for r in tb_rows)
    n_r = sum(r["ct_r"] for r in rb_rows)
    tb = spark.createDataFrame(tb_rows, "_b string, ct_t long")
    rb = spark.createDataFrame(rb_rows, "_b string, ct_r long")
    lr = F.log(
        (F.col("ct_t") + F.lit(alpha)) / F.lit(n_t + alpha * n_buckets)
    ) - F.log((F.col("ct_r") + F.lit(alpha)) / F.lit(n_r + alpha * n_buckets))
    contrib = (
        tb.join(rb, "_b", "full")
        .select(
            "_b",
            F.coalesce("ct_t", F.lit(0)).alias("ct_t"),
            F.coalesce("ct_r", F.lit(0)).alias("ct_r"),
        )
        .select("_b", F.round(lr * micro, 0).cast("long").alias("_contrib"))
    )
    return (
        r_occ.groupBy(id_col, "_b")
        .agg(F.count("*").alias("_n_db"))
        .join(F.broadcast(contrib), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_n_db").cast("long").alias("n_grams"),
            F.sum(F.col("_n_db") * F.col("_contrib")).alias("weight_micro"),
        )
        .select(id_col, "n_grams", "weight_micro")
    )


def nb_token_classifier(
    train: DataFrame,
    score: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    shingle_n: int = 1,
    alpha: float = 1.0,
    micro: int = 1_000_000,
) -> DataFrame:
    """Seed-labeled quality-classifier distillation (the fastText-
    classifier recipe of FineWeb / DCLM, expressed engine-native):
    train a hashed-token naive-Bayes log-linear scorer on a LABELED
    seed frame with pure aggregations — per-class token-bucket counts
    over the 256 md5-prefix buckets, Laplace-smoothed log-likelihood
    ratios rounded to integer MICRO-units, class prior from smoothed
    doc counts — then score any frame with one broadcast join and an
    integer sum. ``label_col`` is a boolean column on ``train``
    (True = positive / keep-worthy seed).

    Same exactness discipline as dsir_importance_weights: per-bucket
    contributions round to BIGINT micro-units BEFORE summation, so
    document scores are exact integer sums — invariant to partitioning
    and float-addition order, re-derivable to the integer by a SQL
    oracle. Buckets unseen in training score the shared smoothed
    default, so out-of-vocabulary text degrades gracefully instead of
    silently dropping terms.

    Output: (id, n_tokens, score_micro, keep) for every SCORE row with
    at least one token; ``score_micro`` includes the prior and
    ``keep = score_micro > 0`` (the Bayes decision).

    Scale shape: the trained model collapses to a 256-row broadcast
    plus two driver longs (prior, default); training shuffles
    (bucket, class) pairs only; scoring shuffles (id, bucket) pairs
    with map-side combine — the text itself never crosses an exchange.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    import math

    n_buckets = 256

    # NULL-labeled rows have no class: keep token counts and the doc
    # prior consistent by excluding them from BOTH (they already fell
    # out of the when/~when token counts; counting them in the prior's
    # denominator silently skewed it toward "negative" — round-6
    # ADVICE). No-op when label_col is total, as in the declared query.
    train = train.where(F.col(label_col).isNotNull())

    # training needs (label, bucket) — the helper's carried column is
    # the label here, not the id (counts don't care which doc)
    t_occ = _bucket_occurrences(
        train.withColumn("_y_lbl", F.col(label_col)),
        "_y_lbl",
        text_col,
        shingle_n,
    ).select(F.col("_y_lbl").alias("_y"), "_b")
    # one aggregation pass: collect the <=256-row class-count histogram,
    # total it in Python, and re-register it as a local frame (same
    # collect-once shape as dsir_importance_weights — the former pinned
    # frame paid a cache plus a second aggregate action for the totals)
    cnt_rows = t_occ.groupBy("_b").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("ct1"),
        F.sum(F.when(~F.col("_y"), 1).otherwise(0)).alias("ct0"),
    ).collect()
    n1 = sum(int(r["ct1"]) for r in cnt_rows)
    n0 = sum(int(r["ct0"]) for r in cnt_rows)
    cnt = train.sparkSession.createDataFrame(
        cnt_rows, "_b string, ct1 long, ct0 long"
    )
    docs = train.agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)),
        F.count("*"),
    ).first()
    d1, dn = int(docs[0] or 0), int(docs[1] or 0)
    # HALF-AWAY rounding to match F.round and the SQL oracle (Python's
    # round() is banker's — a .5 tie would split the exactness contract)
    prior = _round_half_away(
        (math.log((d1 + 1.0) / (dn + 2.0)) - math.log((dn - d1 + 1.0) / (dn + 2.0)))
        * micro
    )
    default_w = _round_half_away(
        (
            math.log(alpha / (n1 + alpha * n_buckets))
            - math.log(alpha / (n0 + alpha * n_buckets))
        )
        * micro
    )
    llr = F.round(
        (
            F.log((F.col("ct1") + F.lit(alpha)) / F.lit(n1 + alpha * n_buckets))
            - F.log((F.col("ct0") + F.lit(alpha)) / F.lit(n0 + alpha * n_buckets))
        )
        * micro,
        0,
    ).cast("long")
    w_table = cnt.select("_b", llr.alias("_w"))
    s_occ = _bucket_occurrences(score, id_col, text_col, shingle_n)
    out = (
        s_occ.groupBy(id_col, "_b")
        .agg(F.count("*").alias("_n_db"))
        .join(F.broadcast(w_table), "_b", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_n_db").cast("long").alias("n_tokens"),
            (
                F.sum(
                    F.col("_n_db")
                    * F.coalesce(F.col("_w"), F.lit(default_w))
                )
                + F.lit(prior)
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    return out.select(
        id_col,
        "n_tokens",
        "score_micro",
        (F.col("score_micro") > 0).alias("keep"),
    )


def duplicate_token_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact duplicate-substring SPANS (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): maximal runs of
    tokens in which EVERY k-token window also appears in some other
    document, found via stride-1 window hashes — the positional
    duplicated-region result a suffix array gives for duplicates of
    length >= k, re-expressed as dataflow (the groupBy replaces the
    suffix-array machinery). Note the semantics precisely: a span is
    positionally duplicated window by window — overlapping matches
    against DIFFERENT partner documents stitch into one span, so the
    full span need not occur verbatim in any single other document
    (this is Lee et al.'s removal semantics: every k-window of the
    span is redundant somewhere).

    A window (tokens [i, i+k)) is duplicated when its md5 appears in
    more than one distinct document; consecutive duplicated windows
    merge into one span (gaps-and-islands), so a shared run of L >= k
    tokens reports exactly once as [i, i+L). Output: (id, span_start,
    span_end, span_tokens), token positions 1-based inclusive.

    Scale shape: each document emits one 32-char hash per token
    (stride 1 — this is the method's cost, and still only hashes ever
    shuffle, never text); window document-frequency is a map-side-
    combined groupBy; the island merge is one window function
    partitioned by document. Downstream removal composes with
    segment_dedup_rewrite's rebuild: these spans are the positions a
    Lee-style cut would drop.
    """
    # the token array MUST be bound to a column before the transform
    # references it: Catalyst re-inlines (not CSEs) expressions used
    # inside HOF lambdas, so a raw tokens() reference re-tokenizes the
    # whole document once PER WINDOW — O(tokens^2) per doc, measured
    # 4.2x on 1k-token docs and unbounded beyond (the same trap
    # segment_dedup_rewrite documents and hoists for)
    from .text import spread

    with_toks = spread(df, id_col).withColumn("_toks", tokens(F.col(text_col)))
    toks = F.col("_toks")
    n_win = F.size(toks) - F.lit(k - 1)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — a doc
    # shorter than k tokens must contribute no windows at all
    # round 6: the window hash is xxhash64 (8-byte long), not the
    # 32-char md5 hex string — the hash is internal (only positions
    # reach the output), every downstream count is collision-invariant
    # up to 64-bit collisions (birthday bound: about n^2/2^65 expected
    # colliding pairs for n distinct windows — roughly a 3% chance of
    # one at 10^9, more than one expected at 10^10), and the dominant
    # shuffle/cache width drops ~4x — the exact cut round-5 VERDICT
    # task #2 prescribed.
    wins = F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, F.lit(k)))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    from .dedup import pin

    # pinned: the duplicated-hash aggregate AND the join probe both
    # consume the window frame — unpinned, the tokenize+hash explode
    # (the method's dominant cost) runs once per consumer
    win = pin(
        with_toks.select(
            F.col(id_col), F.posexplode(wins).alias("_p0", "_h")
        ).select(id_col, (F.col("_p0") + 1).alias("_pos"), "_h")
    )
    dup = pin(
        win.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") > 1)
        .select("_h")
    )
    from pyspark.sql import Window as W

    # the duplicated-hash set is usually a tiny fraction of all windows
    # (only cross-document repeats survive) — broadcast it below a row
    # cap so the 1-hash-per-token window frame never shuffles for the
    # probe; above the cap the planner's shuffled join stands
    dup_side = (
        F.broadcast(dup) if dup.count() <= DUP_HASH_BROADCAST_ROWS else dup
    )
    dwin = win.join(dup_side, "_h").select(id_col, "_pos")
    grp = F.col("_pos") - F.row_number().over(
        W.partitionBy(id_col).orderBy("_pos")
    )
    return (
        dwin.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("_pos") + F.lit(k) - F.min("_pos"))
            .cast("long")
            .alias("span_tokens"),
        )
        .drop("_g")
    )
