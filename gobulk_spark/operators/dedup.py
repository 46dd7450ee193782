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

MinHash here is md5-based so the DuckDB oracle can reproduce signatures
bit-for-bit: h_i(s) = md5(i || '|' || s), minimized as hex strings
(lexicographic order on fixed-width hex == numeric order).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, shingles

#: broadcast the index side of banded self-joins (minhash LSH) when the
#: signature table holds at most this many rows — same rationale and
#: scale fallback as text.SIMHASH_BROADCAST_INDEX_ROWS
LSH_BROADCAST_INDEX_ROWS = int(
    os.environ.get("GOBULK_LSH_BCAST_ROWS", str(4_000_000))
)

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


def phash_near_dup_candidates(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 8,
    max_bucket_size: int | str | None = 256,
) -> DataFrame:
    """Near-duplicate IMAGE candidates by perceptual-hash banding.

    Alias of :func:`operators.images.phash_near_dup_images` (kept for
    the round-1 call signature): the round-1 fixed 4x16-bit banding
    guaranteed recall only to hamming 3 while defaulting the radius to
    8 — the radius-sized multi-probe banding underneath the images
    operator guarantees recall 1.0 at ANY radius by generalized
    pigeonhole (before the hot-bucket guard), so the one
    implementation now serves both entry points."""
    from .images import phash_near_dup_images

    return phash_near_dup_images(
        df, id_col, phash_col, max_hamming, max_bucket_size
    )


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

    max_bucket_size drops (band, minhash) buckets with more members —
    over-full buckets are non-discriminative and quadratic (the standard
    LSH hot-bucket guard; the skew story of SURVEY §4 applied to joins).
    """
    sig = pin(minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))
    # one cheap count on the pinned signatures decides the join side:
    # the planner cannot size a relation produced by explode-over-
    # aggregate, and a sort-merge join here sorts both copies of the
    # whole signature table. n * num_hashes rows of (id, band, 32-char
    # minhash) broadcast fine into the tens of millions of rows
    # (measured 2.3 s -> 1.3 s at sf1.0); above the cap the planner's
    # shuffled join stands (the 10^12 path).
    n_sig = sig.count()
    if max_bucket_size is not None:
        hot = (
            sig.groupBy("band", "minhash")
            .agg(F.count("*").alias("bs"))
            .where(F.col("bs") > max_bucket_size)
            .select("band", "minhash")
        )
        sig = sig.join(F.broadcast(hot), ["band", "minhash"], "left_anti")
    l, r = sig.alias("l"), sig.alias("r")
    if n_sig <= LSH_BROADCAST_INDEX_ROWS:
        r = F.broadcast(r)
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.minhash") == F.col("r.minhash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("bands_agreeing"))
    )


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
    # same sized-broadcast decision as minhash_lsh_candidates: the
    # pinned (id, shingle-hash) table is narrow, and broadcasting the
    # index side of the self-join keeps the probe side map-local
    # (measured 3.7 s -> 2.7 s at sf1.0); above the cap the planner's
    # shuffled join stands
    n_sh = sh.count()
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").agg(F.count("*").alias("df")).where(
            F.col("df") > max_shingle_df
        )
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    l, r = sh.alias("l"), sh.alias("r")
    if n_sh <= LSH_BROADCAST_INDEX_ROWS:
        r = F.broadcast(r)
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
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
