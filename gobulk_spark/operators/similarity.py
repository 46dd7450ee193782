"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k against one query vector. The
  dot product folds left-to-right in DOUBLE via F.aggregate — the same
  sequential order DuckDB's list_cosine_similarity uses, so the oracle
  matches to the last bit (rounded defensively anyway). Every ANN
  operator ends in it: lsh_bucket_ann / lsh_ann_pruned (random-
  hyperplane LSH bucket), ivf_ann / ivf_ann_pruned (probed IVF cells,
  chosen by _probe_cells) and pq_ann's exact re-rank; ivfpq_ann
  composes IVF probing with pq_ann. The hyperplanes and codebooks are
  seeded numpy matrices shipped in pandas-UDF closures.
- embedding_near_dup_pairs / embedding_near_dup_pairs_ivf: cosine
  near-duplicate pairs via banded LSH keys (_band_keys), optionally
  scoped inside IVF cells, the dedup.drop_hot_buckets guard, and one
  exact pairwise verify (_cosine_pairs).

Scale notes: brute force is O(n) per query (a map + top-k, no shuffle;
fine for one query vector, wrong for n x n). The bucketed variants are
the 10^12-row path.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, folded left-to-right in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v: Column) -> Column:
    """L2 norm of an array column, folded left-to-right in double."""
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_to(query: list[float]):
    """Column: cosine(embedding, query) folded sequentially in double."""
    q = [float(x) for x in query]
    qnorm = float(np.sqrt(np.dot(q, q)))
    qcol = F.array(*[F.lit(x) for x in q])
    emb = F.col("embedding")
    return _dot(emb, qcol) / (_norm(emb) * F.lit(qnorm))


def brute_force_topk(
    emb: DataFrame, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine: map-side score + global top-k (sort-limit
    is optimized to per-partition top-k + driver merge; no full sort).
    The tail of every ANN operator here: each narrows ``emb`` to its
    candidates and ranks them with this."""
    return (
        emb.select(F.col(id_col), cosine_to(query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim)).astype(np.float64)


def with_lsh_bucket(
    emb: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """Append a random-hyperplane LSH bucket id (sign pattern -> int).

    The plane matrix is tiny (n_planes x dim) and regenerated
    deterministically inside each Python worker — the executor-side
    broadcast idiom.
    """

    @F.pandas_udf(T.IntegerType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        planes = _hyperplanes(dim, n_planes, seed)
        m = np.stack(vecs.to_numpy())  # (batch, dim) float32
        signs = (m.astype(np.float64) @ planes.T) > 0  # (batch, n_planes)
        weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]
        return pd.Series((signs * weights).sum(axis=1).astype(np.int32), index=vecs.index)

    # spread before the opaque bucket stage (same single-row-group
    # rationale as pq_encode; conditional, so real multi-split scans
    # pass through untouched)
    from .text import spread

    return spread(emb, id_col).withColumn("bucket", _bucket(F.col("embedding")))


def lsh_query_bucket(
    query: list[float], dim: int, n_planes: int, seed: int = 42
) -> int:
    """The bucket lsh_bucket_ann scans for this query — ONE definition
    of the bucket function, shared by the operator and by callers that
    reason about its candidate set (the driver's bucket-top-k exactness
    gate); a drifted replica would silently test the wrong bucket."""
    planes = _hyperplanes(dim, n_planes, seed)
    signs = (planes @ np.asarray(query, dtype=np.float64)) > 0
    return int((signs * (1 << np.arange(n_planes))).sum())


def lsh_bucket_ann(
    emb: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN: score only vectors in the query's LSH bucket (partition-
    pruned scan if the table is written partitioned by bucket)."""
    qbucket = lsh_query_bucket(query, dim, n_planes, seed)
    bucketed = with_lsh_bucket(emb, dim, n_planes, seed, id_col)
    return brute_force_topk(
        bucketed.where(F.col("bucket") == qbucket), query, k, id_col
    )


def _bounded_sample_matrix(
    emb: DataFrame, id_col: str, sample_size: int
) -> np.ndarray | None:
    """The shared fit-sample discipline: top-``sample_size`` rows by
    xxhash64(id) — a deterministic uniform draw Spark executes as
    per-partition top-k + driver merge (TakeOrderedAndProject), no full
    sort, no count, bounded driver memory regardless of table size.
    Returns a raw float64 matrix, or None for an empty table."""
    rows = (
        emb.select(F.col("embedding"), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample_size)
        .collect()
    )
    if not rows:
        return None
    return np.stack([r[0] for r in rows]).astype(np.float64)


def _ivf_centroids(dim: int, n_cells: int, seed: int) -> np.ndarray:
    """Training-free fallback quantizer: unit-norm random centroids.

    Same partition-pruning structure as a trained codebook (cells are
    Voronoi regions), but cell occupancy tracks no data structure —
    recall sags on clustered embeddings. Prefer fit_ivf_centroids.
    """
    c = np.random.default_rng(seed).standard_normal((n_cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def fit_ivf_centroids(
    emb: DataFrame,
    dim: int,
    n_cells: int = 16,
    seed: int = 7,
    sample_size: int = 8192,
    n_iter: int = 12,
    id_col: str = "vec_id",
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Spherical k-means codebook from a seeded sample (the training
    pass gobulk-era IVF needs for non-degenerate cell occupancy).

    The sample is the top-``sample_size`` rows by xxhash64(id) — a
    deterministic uniform draw that Spark executes as per-partition
    top-k + driver merge (TakeOrderedAndProject), no full sort, no
    table count. The fit collects a BOUNDED set to the driver
    regardless of table size — at 10^12 rows the fit cost is constant;
    only the assignment UDF scales. Assignment is argmax dot with unit
    centroids = cosine k-means; empty cells are reseeded from the
    worst-served point so all n_cells stay live.

    ``sample``: a pre-collected raw matrix from _bounded_sample_matrix
    — lets ivfpq_ann fit IVF and PQ codebooks from ONE table pass."""
    m = (
        sample
        if sample is not None
        else _bounded_sample_matrix(emb, id_col, sample_size)
    )
    if m is None:  # empty table: no data to fit — random codebook keeps
        return _ivf_centroids(dim, n_cells, seed)  # ann-over-empty total
    rng = np.random.default_rng(seed)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    m = m / np.maximum(norms, 1e-12)
    cents = m[rng.choice(len(m), n_cells, replace=len(m) < n_cells)].copy()
    for _ in range(n_iter):
        sims = m @ cents.T
        assign = np.argmax(sims, axis=1)
        # worst-served points in order — each dead cell reseeds from a
        # DISTINCT one (a single shared argmin would make two cells
        # dying in the same iteration identical forever: they then tie
        # on argmax, the lower index wins, and the other stays dead)
        worst = np.argsort(np.max(sims, axis=1))
        dead = 0
        for c in range(n_cells):
            members = m[assign == c]
            if len(members) == 0:
                cents[c] = m[worst[dead % len(m)]]
                dead += 1
            else:
                mean = members.mean(axis=0)
                cents[c] = mean / max(np.linalg.norm(mean), 1e-12)
    return cents


def with_ivf_cell(
    emb: DataFrame,
    dim: int,
    n_cells: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Append the IVF cell id (argmax centroid dot product). A trained
    codebook (fit_ivf_centroids) ships to workers inside the UDF
    closure — n_cells x dim floats, broadcast-sized."""
    cents_arr = centroids if centroids is not None else _ivf_centroids(dim, n_cells, seed)

    @F.pandas_udf(T.IntegerType())
    def _cell(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(m @ cents_arr.T, axis=1).astype(np.int32), index=vecs.index)

    return emb.withColumn("ivf_cell", _cell(F.col("embedding")))


def _probe_cells(centroids: np.ndarray, query: list[float], n_probe: int) -> list[int]:
    """The query's ``n_probe`` closest IVF cells, best first (driver-side,
    against the centroids — the index metadata)."""
    scores = centroids @ np.asarray(query, dtype=np.float64)
    return [int(i) for i in np.argsort(-scores)[:n_probe]]


def ivf_ann(
    emb: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
    train: bool = True,
) -> DataFrame:
    """IVF approximate nearest neighbours: score only vectors whose cell
    is among the query's n_probe closest centroids.

    ``train=True`` (default) fits the codebook on a bounded sample —
    measurably better recall than the random codebook on clustered
    embeddings; pass centroids to reuse a fit across queries, or
    train=False for the training-free structure.

    Scale path: write the table partitioned by ivf_cell and the probe
    filter becomes partition pruning — the scan reads n_probe/n_cells
    of the data before any compute.
    """
    if centroids is None:
        centroids = (
            fit_ivf_centroids(emb, dim, n_cells, seed)
            if train
            else _ivf_centroids(dim, n_cells, seed)
        )
    probes = _probe_cells(centroids, query, n_probe)
    celled = with_ivf_cell(emb, dim, n_cells, seed, id_col, centroids=centroids)
    return brute_force_topk(
        celled.where(F.col("ivf_cell").isin(probes)), query, k, id_col
    )


def _band_keys(dim: int, n_bands: int, band_planes: int, seed: int):
    """pandas UDF: array<long> of the ``n_bands`` band keys of each
    vector — b independent random-hyperplane tables of ``band_planes``
    planes each, ALL computed in one matmul per Arrow batch."""

    # hoisted: regenerating (n_bands*band_planes, dim) normals per Arrow
    # batch is pure wasted CPU; the matrix ships once in the closure
    planes = _hyperplanes(dim, n_bands * band_planes, seed)

    # int64 keys: band_sizing emits band_planes > 31 past ~3e10 rows
    # (r = ceil(log2(4n/guard))) — int32 would wrap, merge unrelated
    # buckets past the guard and silently zero recall at exactly the
    # scale this module is for
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _keys(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        signs = (m @ planes.T > 0).reshape(len(m), n_bands, band_planes)
        weights = (1 << np.arange(band_planes, dtype=np.int64))[None, None, :]
        keys = (signs * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(keys), index=vecs.index)

    return _keys


def _cosine_pairs(
    banded: DataFrame, keys: list[str], id_col: str, min_cosine: float
) -> DataFrame:
    """(id_a, id_b, cosine) for every pair sharing a ``keys`` bucket with
    exact cosine >= min_cosine, each pair once.

    The threshold runs BEFORE the distinct: the dedup shuffle then
    carries only true pairs, not every band co-occurrence."""
    l = banded.select(
        *keys, F.col(id_col).alias("id_a"), F.col("embedding").alias("emb_a")
    )
    r = banded.select(
        *keys, F.col(id_col).alias("id_b"), F.col("embedding").alias("emb_b")
    )
    cosine = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    return (
        l.join(r, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
        .distinct()
    )


def with_banded_lsh_keys(
    emb: DataFrame,
    dim: int,
    n_bands: int,
    band_planes: int,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """Explode each vector into (band, band_key) rows — b independent
    random-hyperplane tables of r planes each (AND within a band, OR
    across bands). Amplified recall at cosine s is 1-(1-p^r)^b with
    p = 1 - acos(s)/pi, tunable without touching precision's exact
    cosine filter. One pandas UDF computes ALL band keys per batch
    (single matmul), then posexplode — never b UDF evaluations.
    """
    band_keys = _band_keys(dim, n_bands, band_planes, seed)
    return emb.select(
        F.col(id_col),
        F.col("embedding"),
        F.posexplode(band_keys(F.col("embedding"))).alias("band", "band_key"),
    )


def band_sizing(
    n_rows: int,
    min_cosine: float,
    max_bucket_size: int = 64,
    target_recall: float = 0.9,
    max_bands: int = 64,
) -> tuple[int, int]:
    """(n_bands, band_planes) hitting ``target_recall`` at the threshold.

    band_planes first: 2^r buckets per band must clear
    4*n / max_bucket_size, or the hot-bucket guard drops every coarse
    bucket and recall collapses to ~0 (measured live: fixed r=4 scored
    recall 0.009 on 2000 vectors — bucket granularity MUST scale with
    n). Then n_bands from the amplification formula 1-(1-p^r)^b with
    p = 1 - acos(s)/pi, capped at max_bands to bound join fan-out (the
    cap only binds for low thresholds, where LSH is inherently weak —
    true near-dup thresholds >= 0.9 need single-digit bands).
    """
    p = 1.0 - math.acos(min_cosine) / math.pi
    r = max(1, math.ceil(math.log2(max(2.0, 4.0 * n_rows / max_bucket_size))))
    per_band = p**r
    if per_band >= 1.0:
        return 1, r
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_band))
    return min(max_bands, max(1, b)), r


def ivf_cells_for_band_budget(
    n_rows: int,
    min_cosine: float,
    n_probe: int = 4,
    max_bucket_size: int = 64,
    target_recall: float = 0.9,
    max_bands: int = 64,
) -> int:
    """Cell count that brings per-cell banding back inside the band cap.

    The amplification math fails at scale for LOW thresholds: p^r decays
    with r, r must grow as log2(n) (bucket granularity vs the guard),
    so the band count needed for the target recall explodes past
    max_bands — at n=2x10^5 and cosine 0.4, b_needed ≈ 1445 vs the cap
    64 (recall ~0.1). Scoping the banding INSIDE trained IVF cells
    shrinks the effective n per table to n_probe*n/cells, which lowers
    r, which raises p^r back to where max_bands suffices:

        q      = per-band hit rate needed = 1-(1-target)^(1/max_bands)
        r_max  = floor(log_p q)            (widest usable band)
        n_cell = guard * 2^r_max / 4       (max rows a cell may hold)
        cells  = ceil(n_probe * n / n_cell)

    Returns 1 when plain banding already fits (small n / high
    threshold) — the caller skips the IVF tier entirely.
    """
    if min_cosine >= 1.0:
        # exact-duplicate threshold: p -> 1, log(p) -> 0; every band
        # matches, so plain banding always fits — no IVF tier needed
        return 1
    p = 1.0 - math.acos(min_cosine) / math.pi  # < 1.0 past the guard
    q = 1.0 - (1.0 - target_recall) ** (1.0 / max_bands)
    r_max = max(1, int(math.log(q) / math.log(p)))
    n_cell_max = max_bucket_size * (2**r_max) / 4.0
    return max(1, math.ceil(n_probe * n_rows / n_cell_max))


def embedding_near_dup_pairs_ivf(
    emb: DataFrame,
    dim: int,
    min_cosine: float = 0.4,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    max_bucket_size: int = 64,
    target_recall: float = 0.9,
    max_bands: int = 64,
    n_cells: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs at LOW cosine thresholds: trained IVF cells as the
    outer partitioner, banded LSH within each cell.

    embedding_near_dup_pairs' recall collapses once band_sizing's b
    exceeds max_bands (low threshold x large n); here each vector lands
    in its ``n_probe`` closest cells (multi-probe, so near pairs
    straddling cell boundaries still co-occur) and the equi-join key
    becomes (cell, band, band_key). Per-cell row counts are ~n/cells,
    so band_sizing emits fewer planes -> higher per-band hit rate ->
    the cap suffices (ivf_cells_for_band_budget inverts that chain).

    ``n_probe`` is the recall knob for CELL sharing and must stay
    generous: measured on the 20k test corpus, a cosine-0.55 pair's
    probability of sharing >=1 of its top-m cells was m=2: 0.79,
    m=3: 0.97, m=4: 0.997 at 10 cells (and degrades as cells grow, so
    raising probes raises occupancy raises cells — the default 4 is
    past the knee). End-to-end: 0.907 recall vs plain banding's 0.738
    under the same max_bands=64 (tests/test_ivf_banded_recall.py).

    Honest boundary (measured, not assumed): at dim=64 a threshold of
    ~0.4 sits ~3 sigma above RANDOM-pair cosine, so large corpora hold
    vast ISOTROPIC accidental pair sets there; no partitioner
    co-locates isotropic pairs (LSH needs ~n^rho tables at that gap).
    This operator targets structure above the noise floor — when the
    threshold is at/below it, raise the threshold rather than the
    probe count.

    Cost: n_probe x the banded-row volume, one bounded-sample k-means
    fit (constant vs table size), same guard + exact-verify structure.
    Scale path: shuffle on (cell, band, band_key) — finer keys than
    plain banding, so hot buckets shrink too.
    """
    if n_rows is None:
        n_rows = emb.count()
    if n_cells is None:
        n_cells = ivf_cells_for_band_budget(
            n_rows, min_cosine, n_probe, max_bucket_size, target_recall, max_bands
        )
    if n_cells <= 1:  # plain banding already meets the budget
        return embedding_near_dup_pairs(
            emb, dim, min_cosine, seed=seed, id_col=id_col,
            max_bucket_size=max_bucket_size, target_recall=target_recall,
        )
    cents = fit_ivf_centroids(emb, dim, n_cells=n_cells, seed=seed, id_col=id_col)
    n_bands, band_planes = band_sizing(
        max(2, math.ceil(n_probe * n_rows / n_cells)),
        min_cosine,
        max_bucket_size,
        target_recall,
        max_bands,
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _cells(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        top = np.argsort(-(m @ cents.T), axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top), index=vecs.index)

    band_keys = _band_keys(dim, n_bands, band_planes, seed)
    from .dedup import drop_hot_buckets, pin

    banded = pin(
        emb.select(
            F.col(id_col),
            F.col("embedding"),
            F.explode(_cells(F.col("embedding"))).alias("cell"),
            band_keys(F.col("embedding")).alias("_keys"),
        ).select(
            id_col,
            "embedding",
            "cell",
            F.posexplode(F.col("_keys")).alias("band", "band_key"),
        )
    )
    keys = ["cell", "band", "band_key"]
    banded = drop_hot_buckets(banded, keys, max_bucket_size)
    return _cosine_pairs(banded, keys, id_col, min_cosine)


def embedding_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    min_cosine: float = 0.95,
    n_bands: int | None = None,
    band_planes: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    max_bucket_size: int | None = 64,
    target_recall: float = 0.9,
) -> DataFrame:
    """Near-duplicate vector pairs: banded LSH equi-join, hot-bucket
    guard, exact cosine verify — O(sum bucket^2) per band, never n^2.

    band_planes=0 degenerates to the exact all-pairs baseline (single
    constant-key band — ONE reducer, oracle use only, never production).
    Over-full buckets (> max_bucket_size members) are dropped before the
    self-join, like every other near-dup operator here: one dense bucket
    is non-discriminative and quadratic (dedup.py minhash guard,
    text.py simhash guard). Candidates surfacing in several bands are
    distinct-ed before the threshold filter, so the output is a set.

    Bands/planes default to band_sizing() from the table's row count —
    pass both explicitly to skip the count job (e.g. when the caller
    already knows n, or tuned parameters for a known corpus).
    """
    if band_planes is None and n_bands is None:
        guard = max_bucket_size if max_bucket_size is not None else 64
        n_bands, band_planes = band_sizing(
            emb.count(), min_cosine, guard, target_recall
        )
    elif band_planes is None or (band_planes != 0 and n_bands is None):
        # auto-sizing couples the two (plane count drives per-band hit
        # rate, band count compensates) — silently overriding one half
        # of an explicit setting would ignore the caller's intent
        raise ValueError(
            "pass BOTH n_bands and band_planes or NEITHER "
            "(band_planes=0 alone selects the exact all-pairs baseline)"
        )
    if band_planes == 0:
        banded = emb.select(
            F.col(id_col),
            F.col("embedding"),
            F.lit(0).alias("band"),
            F.lit(0).cast("long").alias("band_key"),
        )
    else:
        from .dedup import drop_hot_buckets, pin

        # pinned: the guard aggregation and both join sides would each
        # re-run the banding UDF over the full table otherwise
        banded = pin(with_banded_lsh_keys(emb, dim, n_bands, band_planes, seed, id_col))
        banded = drop_hot_buckets(banded, ["band", "band_key"], max_bucket_size)
    return _cosine_pairs(banded, ["band", "band_key"], id_col, min_cosine)


# ------------------------------------------------------------------ PQ

def fit_pq_codebook(
    emb: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 256,
    seed: int = 7,
    sample_size: int = 8192,
    n_iter: int = 12,
    id_col: str = "vec_id",
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantizer codebooks (Jegou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11): the UNIT-NORMALIZED vector
    is split into ``n_sub`` contiguous subspaces of dim/n_sub and each
    subspace gets an independent L2 k-means codebook of ``n_codes``
    centroids. Returns (n_sub, n_codes, dim // n_sub) float64.

    Why this exists at 10^12 rows: raw float32 embeddings at dim 64 are
    256 bytes/vector — 256 TB of vectors alone. PQ codes are n_sub
    bytes (8 here, a 32x compression), small enough that the CODES of a
    trillion-row corpus fit on a modest cluster's disks and the ADC
    scan is memory-bandwidth-bound instead of capacity-bound.

    Same bounded-fit discipline as fit_ivf_centroids: deterministic
    xxhash64-ordered sample (TakeOrderedAndProject — no full sort, no
    count), driver-side k-means over <= sample_size rows, cost constant
    w.r.t. table size. Normalizing before quantization makes L2 code
    distance a cosine surrogate: cos = 1 - ||a-b||^2 / 2 on unit
    vectors, so ADC can rank by (approximate) cosine directly.
    ``sample``: a pre-collected raw matrix from _bounded_sample_matrix
    — lets ivfpq_ann fit IVF and PQ codebooks from ONE table pass.
    """
    m = (
        sample
        if sample is not None
        else _bounded_sample_matrix(emb, id_col, sample_size)
    )
    rng = np.random.default_rng(seed)
    sub_dim = dim // n_sub
    assert n_sub * sub_dim == dim, "dim must divide evenly into n_sub"
    if m is None:  # empty table: seeded random unit codebook (ann-over-
        cb = rng.standard_normal((n_sub, n_codes, sub_dim))  # empty total)
        return cb / np.maximum(np.linalg.norm(cb, axis=2, keepdims=True), 1e-12)
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cb = np.empty((n_sub, n_codes, sub_dim))
    for s in range(n_sub):
        x = m[:, s * sub_dim : (s + 1) * sub_dim]
        cents = x[rng.choice(len(x), n_codes, replace=len(x) < n_codes)].copy()
        for _ in range(n_iter):
            # ||x-c||^2 = ||x||^2 - 2xc + ||c||^2; x-term constant per row
            d2 = -2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)
            assign = np.argmin(d2, axis=1)
            # distinct worst-served reseeds (see fit_ivf_centroids):
            # with 256 codes over a bounded sample, SIMULTANEOUS dead
            # codes are likely, and a shared reseed point would leave
            # all but one of them permanently dead duplicates
            worst = np.argsort(-np.min(d2, axis=1))
            # group rows by assigned code via ONE stable argsort +
            # searchsorted bounds instead of a fresh 8192-wide boolean
            # mask per code (256 masks x 12 iters x 8 subspaces was the
            # driver-side hot loop). Stable order keeps each group's
            # rows in original sequence, so members.mean() sees the
            # identical array and the codebook stays BIT-IDENTICAL
            # (the ANN recall gates hash-match on results derived from
            # it). Measured: fit 2.6 s -> ~0.4 s at sample_size 8192.
            order = np.argsort(assign, kind="stable")
            bounds = np.searchsorted(assign[order], np.arange(n_codes + 1))
            dead = 0
            for c in range(n_codes):
                lo, hi = bounds[c], bounds[c + 1]
                if lo == hi:
                    cents[c] = x[worst[dead % len(x)]]
                    dead += 1
                else:
                    cents[c] = x[order[lo:hi]].mean(axis=0)
        cb[s] = cents
    return cb


def pq_encode(
    emb: DataFrame, codebook: np.ndarray, id_col: str = "vec_id"
) -> DataFrame:
    """(id, codes array<smallint> of length n_sub): each subvector of
    the unit-normalized embedding replaced by its nearest codebook
    index. One Arrow batch pass, codebook in the UDF closure
    (n_sub x n_codes x sub_dim floats — broadcast-sized)."""
    n_sub, n_codes, sub_dim = codebook.shape
    cb2 = (codebook * codebook).sum(axis=2)  # (n_sub, n_codes)

    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def _encode(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(m), n_sub), dtype=np.int16)
        for s in range(n_sub):
            x = m[:, s * sub_dim : (s + 1) * sub_dim]
            d2 = -2.0 * (x @ codebook[s].T) + cb2[s]
            codes[:, s] = np.argmin(d2, axis=1).astype(np.int16)
        return pd.Series(list(codes), index=vecs.index)

    # spread before the opaque encode stage: a single-row-group
    # embeddings table is one scan task, serializing every matmul
    # (text.spread is conditional — an already-split table skips it)
    from .text import spread

    return spread(emb, id_col).select(
        F.col(id_col), _encode(F.col("embedding")).alias("codes")
    )


def pq_ann(
    emb: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 256,
    seed: int = 7,
    id_col: str = "vec_id",
    codebook: np.ndarray | None = None,
    rerank_factor: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): the
    query stays exact, every database vector is its 8-byte code, and
    the score is a sum of n_sub lookup-table entries — no float vector
    is read at scan time.

    The LUT (n_sub x n_codes distances from the query subvectors to
    every centroid) is computed ONCE on the driver and shipped in the
    UDF closure; scoring a row is n_sub table lookups — this is the
    memory-bandwidth-optimal scan shape for exhaustive search over
    10^12 codes, and composes with IVF cells (scan only probed
    partitions) exactly like ivf_ann. Returns approx_cosine =
    1 - d2/2 (unit-vector identity), descending.

    ``rerank_factor`` > 0 is the standard two-stage shape: ADC produces
    a shortlist of k * rerank_factor candidates, then ONLY those rows'
    float vectors are read for an exact-cosine re-rank (a broadcast
    semi-join — at 10^12 rows the exact pass touches k*factor vectors,
    not the corpus). Measured recall@10 on the driver embeddings:
    0.5-0.6 raw ADC -> 0.9-1.0 with factor 10 (sf0.1/sf0.01). 0
    disables (pure ADC).
    """
    if codebook is None:
        codebook = fit_pq_codebook(
            emb, dim, n_sub, n_codes, seed=seed, id_col=id_col
        )
    n_sub_, n_codes_, sub_dim = codebook.shape
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    lut = np.empty((n_sub_, n_codes_))
    for s in range(n_sub_):
        diff = codebook[s] - q[s * sub_dim : (s + 1) * sub_dim]
        lut[s] = (diff * diff).sum(axis=1)

    @F.pandas_udf(T.DoubleType())
    def _adc(codes: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy()).astype(np.int64)
        d2 = lut[np.arange(c.shape[1]), c].sum(axis=1)
        return pd.Series(d2, index=codes.index)

    codes = pq_encode(emb, codebook, id_col)
    scored = codes.select(
        F.col(id_col), (1.0 - _adc(F.col("codes")) / 2.0).alias("approx_cosine")
    )
    ranked = scored.orderBy(F.desc("approx_cosine"), F.col(id_col))
    if rerank_factor <= 0:
        return ranked.limit(k)
    shortlist = ranked.limit(k * rerank_factor).select(id_col)
    return brute_force_topk(
        emb.join(F.broadcast(shortlist), id_col, "left_semi"), list(q), k, id_col
    )


def ivfpq_ann(
    emb: DataFrame,
    query: list[float],
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 256,
    seed: int = 7,
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
    codebook: np.ndarray | None = None,
    rerank_factor: int = 10,
) -> DataFrame:
    """IVF-PQ: the canonical trillion-scale ANN composition (FAISS's
    IVFx,PQy index re-expressed as a DataFrame plan). IVF cells bound
    WHICH rows are scanned (n_probe/n_cells of the corpus; partition
    pruning when the table is written partitioned by cell), PQ codes
    bound WHAT the scan reads per row (8 bytes, not 256), and the
    exact re-rank touches only k x rerank_factor float vectors.

    Both codebooks come from the same bounded deterministic sample
    discipline, so index build cost is constant w.r.t. table size.
    """
    if centroids is None or codebook is None:
        # ONE bounded sample pass feeds both fitters — two independent
        # TakeOrdered collections would scan the table twice to fetch
        # the identical deterministic rows
        sample = _bounded_sample_matrix(emb, id_col, 8192)
        if centroids is None:
            centroids = fit_ivf_centroids(
                emb, dim, n_cells, seed, id_col=id_col, sample=sample
            )
        if codebook is None:
            codebook = fit_pq_codebook(
                emb, dim, n_sub, n_codes, seed=seed, id_col=id_col, sample=sample
            )
    probes = _probe_cells(centroids, query, n_probe)
    celled = with_ivf_cell(emb, dim, n_cells, seed, id_col, centroids=centroids)
    probed = celled.where(F.col("ivf_cell").isin(probes)).drop("ivf_cell")
    return pq_ann(
        probed,
        query,
        dim,
        k=k,
        n_sub=n_sub,
        n_codes=n_codes,
        seed=seed,
        id_col=id_col,
        codebook=codebook,
        rerank_factor=rerank_factor,
    )


def write_ivf_partitioned(
    emb: DataFrame,
    path: str,
    dim: int,
    n_cells: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize the embedding table PARTITIONED BY trained IVF cell —
    the storage layout that turns probe selection into real PARTITION
    PRUNING: an un-probed cell's files are never opened, so a query
    touches n_probe/n_cells of the bytes on disk, not just of the rows
    in memory. This is the at-rest half of the IVF story the in-memory
    operators (ivf_ann / ivfpq_ann) describe in their docstrings; at
    10^9+ vectors the index IS the directory layout.

    Returns the centroids used (fit here if not supplied) — the caller
    must keep them to route queries; they are the index metadata, the
    analogue of a FAISS index header.
    """
    if centroids is None:
        centroids = fit_ivf_centroids(emb, dim, n_cells, seed, id_col=id_col)
    celled = with_ivf_cell(emb, dim, n_cells, seed, id_col, centroids=centroids)
    celled.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    return centroids


def ivf_ann_pruned(
    spark,
    path: str,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN over a cell-partitioned store written by write_ivf_partitioned:
    probe selection happens on the DRIVER against the centroids (the
    index metadata), and the probed cells become a partition-pruning
    filter — `.explain` shows them in PartitionFilters, and the scan's
    file listing contains only the probed ivf_cell=... directories
    (asserted in tests/test_physical_plans.py). Scoring and top-k are
    identical to ivf_ann: exact cosine over the probed subset,
    TakeOrdered, deterministic (cosine desc, id) ordering."""
    probes = _probe_cells(centroids, query, n_probe)
    df = spark.read.parquet(path)
    # match the DISCOVERED partition-column type: this engine disables
    # partitionColumnTypeInference globally (numeric run ids must stay
    # strings), so ivf_cell reads back as string — probing with int
    # literals would wrap the partition column in a cast
    if dict(df.dtypes).get("ivf_cell") == "string":
        probes = [str(p) for p in probes]
    return brute_force_topk(
        df.where(F.col("ivf_cell").isin(probes)), query, k, id_col
    )


def ivf_append(
    emb: DataFrame,
    path: str,
    centroids: np.ndarray,
) -> dict:
    """Incremental maintenance of a ``write_ivf_partitioned`` store:
    route NEW vectors to their nearest existing centroid and APPEND
    their files into the matching ``ivf_cell=`` directories — no
    rebuild, no rewrite of resident data; queries over the store see
    the union immediately and partition pruning is untouched (the
    appended files land inside the pruned layout). At 10^9+ vectors
    this is how the at-rest index absorbs a growing corpus: O(batch)
    work per batch, with a full re-train + rewrite only when drift
    says the trained centroids went stale.

    Returns ``{"appended", "cell_histogram", "mean_margin",
    "hot_cell_share"}``. ``mean_margin`` is the mean cosine gap
    between the best and second-best centroid over the new batch —
    vectors sitting ON cell boundaries are the ones a fixed
    ``n_probe`` starts missing; ``hot_cell_share`` is the largest
    cell's share of the batch — a batch crowding one cell has outgrown
    the partitioning. A falling margin or a hot cell is the re-train
    signal (FAISS's re-train-when-distribution-shifts guidance,
    expressed as two numbers the caller can threshold).

    One routing pass (pinned: the stats aggregate and the append write
    both consume it), one driver collect of n_cells longs.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    cn = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf("cell int, margin double")
    def _route(vecs: pd.Series) -> pd.DataFrame:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        # cell from the SAME arithmetic as with_ivf_cell (un-normalized
        # row x raw centroids): argmax is scale-invariant in math but
        # not in floats — normalizing first could flip a near-tie and
        # land a vector in a different cell than query-time assignment
        cell = np.argmax(m @ cents.T, axis=1).astype(np.int32)
        # margins on normalized cosines (interpretable drift units)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        cos = mn @ cn.T
        if cos.shape[1] > 1:
            top2 = -np.partition(-cos, 1, axis=1)[:, :2]
            margin = top2[:, 0] - top2[:, 1]
        else:
            margin = np.ones(len(m))
        return pd.DataFrame({"cell": cell, "margin": margin})

    from .dedup import pin

    routed = pin(
        emb.withColumn("_r", _route(F.col("embedding"))).select(
            *emb.columns,
            F.col("_r.cell").alias("ivf_cell"),
            F.col("_r.margin").alias("_margin"),
        )
    )
    stats = routed.groupBy("ivf_cell").agg(
        F.count("*").alias("n"), F.sum("_margin").alias("sm")
    ).collect()
    hist = {int(r["ivf_cell"]): int(r["n"]) for r in stats}
    total = sum(hist.values())
    if not total:
        return {
            "appended": 0,
            "cell_histogram": {},
            "mean_margin": 0.0,
            "hot_cell_share": 0.0,
        }
    routed.drop("_margin").write.mode("append").partitionBy(
        "ivf_cell"
    ).parquet(path)
    return {
        "appended": total,
        "cell_histogram": hist,
        "mean_margin": round(
            float(sum(r["sm"] for r in stats)) / total, 6
        ),
        "hot_cell_share": round(max(hist.values()) / total, 6),
    }


def write_lsh_partitioned(
    emb: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
) -> None:
    """Materialize the embedding table PARTITIONED BY LSH bucket — the
    at-rest layout lsh_bucket_ann's docstring promises: a query scans
    one directory out of 2^n_planes. Unlike IVF there is no trained
    metadata to return; the bucket function is (dim, n_planes, seed),
    reproduced exactly by lsh_query_bucket."""
    with_lsh_bucket(emb, dim, n_planes, seed, id_col).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def lsh_ann_pruned(
    spark,
    path: str,
    query: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN over a bucket-partitioned store: the query's bucket
    (lsh_query_bucket — the operator's own function, never a replica)
    becomes a directory-level partition filter; exact cosine + top-k
    over that single directory's files."""
    qbucket = lsh_query_bucket(query, dim, n_planes, seed)
    df = spark.read.parquet(path)
    val = str(qbucket) if dict(df.dtypes).get("bucket") == "string" else qbucket
    return brute_force_topk(df.where(F.col("bucket") == val), query, k, id_col)
