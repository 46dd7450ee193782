"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

All four scale paths avoid the quadratic all-pairs comparison:
- exact: md5 fingerprint groupBy (map-side combine shrinks the shuffle
  to unique hashes);
- MinHash+LSH: shingle -> k minhashes -> band equi-join (shuffle on
  (band, signature), candidates only);
- n-gram Jaccard: inverted-index self-join on shared shingles (shuffle
  on shingle; hot shingles are the skew risk — mitigated by dropping
  shingles above a document-frequency cap, the standard stop-shingle
  trick);
- SimHash: banding (operators/text.py).

The building blocks every near-dup operator in ``operators/`` shares
live here, once: ``pin`` (persist a frame several subtrees consume),
``drop_hot_buckets`` (the hot-bucket guard) and ``counted_self_join``
(the inverted-index self-join behind minhash, Jaccard and winnowing).
Spark sizes that self-join in bytes: the planner broadcasts a side it
estimates below ``spark.sql.autoBroadcastJoinThreshold``, and AQE
decides at run time from the measured stage sizes otherwise. No row cap
or per-deployment knob chooses the join here.

MinHash here is md5-based so the DuckDB oracle can reproduce signatures
bit-for-bit: h_i(s) = md5(i || '|' || s), minimized as hex strings
(lexicographic order on fixed-width hex == numeric order).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, shingles

#: every frame pin() persisted and nobody released yet. STRONG refs,
#: deliberately: pin() is called on function-local frames that go out
#: of scope before the caller's action runs, and Spark's CacheManager
#: holds the cached plan regardless of Python object lifetime (nothing
#: unpersists on GC) — a WeakSet here would be empty by the time
#: release_pins() runs and the disk-spilled blocks would leak for the
#: application's lifetime.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist a narrow intermediate consumed by several subtrees of one
    operator (hot-bucket aggregation + both self-join sides).

    Catalyst only reuses IDENTICAL exchange subtrees, so without this
    the upstream map work (shingle explode, hashing, Arrow UDFs) runs
    once PER CONSUMER — the minhash candidates plan showed 4 parquet
    scans and 4x the min-md5 aggregation. At 10^12 rows that is the
    whole corpus scanned four times. MEMORY_AND_DISK so wide corpora
    spill instead of failing. Memory blocks are LRU-evicted, but
    DISK-spilled blocks live until unpersist — a long-lived session
    running many similarity queries would accumulate unbounded block
    store disk, so call release_pins() after each query's terminal
    action (bench.py does)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(df)
    return df


def release_pins() -> int:
    """Unpersist every pinned frame; returns how many.

    Safe mid-plan: unpersist is lazy-consistent (a later action simply
    recomputes), so callers run it after the consuming action."""
    n = 0
    while _PINNED:
        _PINNED.pop().unpersist()
        n += 1
    return n


def drop_hot_buckets(
    df: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """The hot-bucket guard: drop every row whose ``keys`` bucket holds
    more than ``max_bucket_size`` rows (None keeps everything).

    Over-full buckets are non-discriminative and quadratic in a
    self-join (the standard LSH hot-bucket / stop-shingle guard; the
    skew story of SURVEY §4 applied to joins). The hot-key set holds at
    most n / max_bucket_size keys, so it is broadcast into the anti-join."""
    if max_bucket_size is None:
        return df
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("bs"))
        .where(F.col("bs") > max_bucket_size)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


def counted_self_join(
    index: DataFrame, keys: list[str], id_col: str, count_col: str
) -> DataFrame:
    """(id_a, id_b, ``count_col``): for every pair id_a < id_b, how many
    ``keys`` entries of the inverted index the two ids share.

    Spark chooses the join by size in bytes. Each caller pins the index
    and materializes the pin with one ``count()``, so the planner reads
    the cached relation's size: it broadcasts the index side below
    ``spark.sql.autoBroadcastJoinThreshold``, and above it AQE picks the
    shuffled strategy from the measured stage sizes (the 10^12 path)."""
    l, r = index.alias("l"), index.alias("r")
    same_keys = reduce(and_, [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys])
    return (
        l.join(r, same_keys & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias(count_col))
    )


def exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of identical (normalized) texts with >1 member."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n_members"), F.min(id_col).alias("canonical_id"))
        .where(F.col("n_members") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per fingerprint (same survivor rule as the
    pipeline's content-hash dedup, sources/scan.py)."""
    fp = df.withColumn("fp", fingerprint(F.col(text_col)))
    survivors = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(survivors, id_col, "left_semi")


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # a document table is often a single parquet split, but shingling
    # amplifies work ~100x per row — spread rows across cores BEFORE the
    # explode or one task does everything (measured 10s -> 0.4s)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_part, id_col).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 2
) -> DataFrame:
    """(id, band, minhash) — one row per document per hash function.

    All k min-hashes are computed in ONE aggregation over the shingle
    rows (k min() exprs, map-side combined), then unpivoted with
    ``stack`` — k times less shuffle input than exploding shingles x k.
    """
    sh = _shingled(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(b)), F.col("shingle")))).alias(f"mh_{b}")
        for b in range(num_hashes)
    ]
    wide = sh.groupBy(id_col).agg(*aggs)
    stack_args = ", ".join(f"{b}, mh_{b}" for b in range(num_hashes))
    return wide.selectExpr(
        id_col, f"stack({num_hashes}, {stack_args}) AS (band, minhash)"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on >=1 minhash band.

    max_bucket_size drops (band, minhash) buckets with more members
    (drop_hot_buckets).
    """
    sig = pin(minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))
    # materializes the pin, so the planner sizes the self-join from the
    # cached relation (counted_self_join); without it AQE runs extra
    # stage jobs to size the join
    sig.count()
    sig = drop_hot_buckets(sig, ["band", "minhash"], max_bucket_size)
    return counted_self_join(sig, ["band", "minhash"], id_col, "bands_agreeing")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    min_jaccard: float = 0.1,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word n-grams, pairs above
    threshold, via inverted-index self-join (never all-pairs).

    max_shingle_df drops shingles appearing in more than that many docs
    (stop-shingle skew guard); None keeps everything (exact semantics,
    required when an oracle cross-checks the result).

    Round 6: the join/aggregation key is xxhash64(shingle) — an 8-byte
    long instead of the raw n-gram string (~15-25 B + string compares).
    Every downstream count (df guard, n_common, n_shingles) is
    collision-invariant up to 64-bit hash collisions. The birthday
    bound puts the expected number of colliding pairs at about
    n^2/2^65 for n distinct shingles: roughly a 3% chance of one at
    10^9, and more than one expected at 10^10 (verified
    result-identical on the bench corpora). The shingle TEXT now never
    leaves the map stage. Measured: 4.8 s -> 3.4 s at sf1.0.
    """
    sh = pin(
        _shingled(df, id_col, text_col, shingle_n).select(
            id_col, F.xxhash64("shingle").alias("shingle")
        )
    )
    # materializes the pin, as in minhash_lsh_candidates
    sh.count()
    sh = drop_hot_buckets(sh, ["shingle"], max_shingle_df)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    inter = counted_self_join(sh, ["shingle"], id_col, "n_common")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_common", "jaccard")
    )
