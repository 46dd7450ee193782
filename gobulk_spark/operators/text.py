"""Text-analysis operators over a document table (JVM-side first).

Everything here is pure DataFrame API — whole-stage codegen, no Python —
except simhash, which is a vectorized Arrow UDF by design (bit packing
is numpy's home turf).

Portability note: these operators are cross-checked against DuckDB SQL
oracles, so string semantics stick to ASCII classes and md5 (identical
hex output on both engines).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_SPLIT = " "  # corpus tokens are single-space separated ASCII words


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), " +")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_density(text: Column, stopwords: tuple[str, ...]) -> Column:
    """Fraction of tokens in the stoplist — higher-order filter, no UDF."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


#: BPE-style pre-tokenizer pattern (the GPT-2 family's split shape,
#: restricted to ASCII classes so Java regex and DuckDB RE2 agree
#: token-for-token): a piece is an optional leading space + a letter
#: run, digit run, or punctuation run; whitespace runs stand alone.
BPE_PIECE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_piece_count(text: Column) -> Column:
    """Number of BPE-ish pre-tokenizer pieces — the unit LLM token
    budgets are measured in (before merges; merges only shrink it, so
    this is a stable upper bound ~1.3x real BPE tokens on English)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PIECE_PATTERN), 0))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (md5 of normalized text)."""
    return F.md5(F.lower(F.trim(text)))


def spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by id hash BEFORE work-amplifying per-row maps.

    A small-to-medium documents table is often a single parquet row
    group, which Spark cannot split — the scan is ONE task, and any
    tokenize/explode/hash chain stacked directly on it runs on one core
    no matter the cluster (measured: repetition_stats 25.2 s -> 1.8 s at
    sf1.0 on local[32] from this alone). Same rationale as
    dedup._shingled ("spread rows across cores BEFORE the explode");
    the exchange moves only the pruned projection once, before the
    ~100x row amplification.

    The repartition is CONDITIONAL on the input actually being
    under-partitioned: a warehouse-scale table already scans as
    thousands of splits, and forcing it through an exchange down to
    defaultParallelism partitions would ADD a full shuffle (and cap
    parallelism) exactly where none is needed. Caveat: ``df.rdd`` is
    NOT free — with AQE on (session.py) it materializes every upstream
    shuffle stage of a non-scan input at plan-construction time, work
    the real action then repeats."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= n_part:
            return df
    except Exception:
        pass
    return df.repartition(n_part, id_col)


def max_token_freq(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc max token frequency ratio via explode + two-level agg.

    Shuffles (id, token) pairs — narrow. Map-side partial agg applies to
    the count; the per-doc max is a second partial-aggregable pass.
    """
    toks = spread(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    per_token = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    return per_token.groupBy(id_col).agg(
        (F.max("tf") / F.sum("tf")).alias("max_token_freq_ratio"),
        F.sum("tf").alias("n_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    idf = ln(N/df) over the corpus. Three narrow shuffles: tf groupBy
    (map-side combined), df groupBy over per-doc-distinct tokens, and
    the window per doc — the token join keys on the aggregated vocab,
    orders of magnitude smaller than the corpus. Ties break
    alphabetically so results are total-ordered (oracle-stable).
    """
    from pyspark.sql import Window

    toks = spread(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    total = df.select(F.countDistinct(id_col).alias("_n"))
    docfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("_n") / F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "token", "rk", F.round("tfidf", 6).alias("tfidf"))
    )


def ngram_array(text: Column, n: int) -> Column:
    """ALL word n-gram occurrences, in document order, as one array.

    Built by folding ``zip_with(grams, slice(toks, k+1, len), concat)``
    — shifted-copy zipping, not element access. The distinction is
    load-bearing: a higher-order-function's ARGUMENT expressions are
    evaluated once, but anything referenced INSIDE its lambda is
    re-inlined per element (Catalyst does no CSE across lambda scopes),
    so the obvious ``transform(idx, i -> concat(get(toks, i), ...))``
    re-runs the regex split per n-gram element — measured 50+ s over 5k
    100-token docs where this form takes ~1 s. zip_with pads the
    shorter side with nulls; the trailing partial grams are sliced off.
    """
    toks = tokens(text)
    g = toks
    for k in range(1, n):
        g = F.zip_with(
            g,
            F.slice(toks, k + 1, F.size(toks)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    empty = F.array().cast("array<string>")
    if n == 1:
        # same totality as n >= 2: NULL text -> empty array, never NULL
        return F.coalesce(toks, empty)
    return F.when(
        F.size(toks) >= n, F.slice(g, 1, F.size(toks) - (n - 1))
    ).otherwise(empty)


def shingles(text: Column, n: int) -> Column:
    """DISTINCT word n-gram shingle array (set semantics, for Jaccard /
    minhash / contamination), first-occurrence order."""
    return F.array_distinct(ngram_array(text, n))


def _winnow_batch_fp_sets(encoded: list, k: int, window: int) -> list:
    """Whole-batch vectorization of winnow_fingerprints'
    positions=False path: every per-doc numpy pass of the loop form
    replaced by ONE pass over the batch's concatenated bytes. Bit-exact by ring arithmetic: with GLOBAL
    exponent tables, a doc starting at offset s computes
    seg_global = inv^s * seg_local and h = seg_global *
    B^(k-1+s+i) = seg_local * B^(k-1+i) — the extra inv^s/B^s
    factors cancel exactly mod 2^64 (multiplication is commutative
    in the ring), so every hash equals the per-doc loop's to the
    bit (pinned by test_winnow_batch_vectorization_is_exact).
    Windows never cross documents: a window-start is valid only
    when its k-gram AND its `window` successors lie in one doc.
    Returns one sorted int64 array of distinct fingerprints per
    doc (np.unique order, as before)."""
    import numpy as np

    B_ = np.uint64(1000003)
    inv_ = np.uint64(pow(1000003, -1, 1 << 64))
    nd = len(encoded)
    empty = np.empty(0, dtype=np.int64)
    lens = np.array([len(e) for e in encoded], dtype=np.int64)
    L = int(lens.sum())
    if L < k:
        return [empty] * nd
    b_all = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    one_ = np.ones(1, dtype=np.uint64)
    powers = np.concatenate(
        [one_, np.cumprod(np.full(L - 1, B_, dtype=np.uint64))]
    )
    invpow = np.concatenate(
        [one_, np.cumprod(np.full(L - 1, inv_, dtype=np.uint64))]
    )
    csum = np.cumsum(b_all.astype(np.uint64) * invpow, dtype=np.uint64)
    nW = L - k + 1
    seg = csum[k - 1 :].copy()
    seg[1:] -= csum[: nW - 1]
    h = seg * powers[k - 1 : k - 1 + nW]
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    doc_of = np.repeat(np.arange(nd), lens)
    gidx = np.arange(nW)
    valid = doc_of[gidx] == doc_of[gidx + k - 1]  # k-gram inside one doc
    h_seq = h[valid]
    hdoc = doc_of[gidx[valid]]
    n_valid = np.maximum(lens - (k - 1), 0)
    hoffs = np.concatenate([[0], np.cumsum(n_valid)])
    vals_parts, docs_parts = [], []
    if len(h_seq) >= window:
        win = np.lib.stride_tricks.sliding_window_view(h_seq, window)
        rowdoc = hdoc[: len(win)]
        wvalid = rowdoc == hdoc[np.arange(len(win)) + window - 1]
        wvalid &= (n_valid > window)[rowdoc]  # n<=window: global-min path
        rows = np.flatnonzero(wvalid)
        if len(rows):
            rev = win[rows][:, ::-1]
            arg = window - 1 - rev.argmin(axis=1)
            pos = arg + rows
            vals_parts.append(h_seq[pos])
            docs_parts.append(hdoc[rows])
    for d in np.flatnonzero((n_valid >= 1) & (n_valid <= window)):
        hs = h_seq[hoffs[d] : hoffs[d + 1]]
        m = int(np.flatnonzero(hs == hs.min())[-1])
        vals_parts.append(hs[m : m + 1])
        docs_parts.append(np.array([d]))
    out_ = [empty] * nd
    if vals_parts:
        vals = (np.concatenate(vals_parts) >> np.uint64(1)).astype(np.int64)
        docs = np.concatenate(docs_parts)
        order = np.lexsort((vals, docs))
        docs, vals = docs[order], vals[order]
        keep = np.ones(len(vals), dtype=bool)
        keep[1:] = (docs[1:] != docs[:-1]) | (vals[1:] != vals[:-1])
        docs, vals = docs[keep], vals[keep]
        bounds = np.searchsorted(docs, np.arange(nd + 1))
        for d in range(nd):
            if bounds[d] < bounds[d + 1]:
                out_[d] = vals[bounds[d] : bounds[d + 1]]
    return out_


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    positions: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): Karp-Rabin rolling hashes over
    char k-grams, then the minimum hash of every sliding window of
    ``window`` consecutive k-gram hashes (rightmost minimum on ties).

    Guarantees: any shared substring of length >= k + window - 1
    between two documents yields at least one shared fingerprint, and
    fingerprint positions are LOCAL — unlike minhash, winnowing
    detects containment/partial overlap, not just whole-document
    similarity. Density is ~2/(window+1) of all k-grams.

    One vectorized Arrow UDF per batch (numpy stride tricks, no
    per-row Python loops beyond the batch), exploded to
    (id, fingerprint, pos) rows — joins on fingerprint find overlap
    candidates exactly like the shingle inverted index.

    ``positions=False`` (round 6) emits each document's DISTINCT
    fingerprints only, deduplicated by np.unique inside the batch —
    the shape winnow_overlap_pairs consumes. The caller previously
    exploded all positions and ran a corpus-wide ``.distinct()``: a
    full exchange of every (id, fingerprint) row that the per-doc
    numpy dedup replaces at zero shuffle (a document's rows never
    span batches, so per-doc unique == global distinct on (id, fp)).
    """
    rt = (
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("fp", T.LongType()),
                    T.StructField("pos", T.IntegerType()),
                ]
            )
        )
        if positions
        else T.ArrayType(T.LongType())
    )

    @F.pandas_udf(rt)
    def _winnow(texts: pd.Series) -> pd.Series:
        import numpy as np

        np.seterr(over="ignore")  # worker-local; 2^64 wrap IS the modulus
        B = np.uint64(1000003)  # Karp-Rabin base (odd, large)
        inv = np.uint64(pow(int(B), -1, 1 << 64))
        # power tables computed ONCE per batch for the longest doc and
        # sliced per doc (was per-doc cumprods — the dominant cost)
        encoded = [t.lower().encode("utf-8", "ignore") for t in texts.fillna("")]
        if not positions:
            return pd.Series(
                _winnow_batch_fp_sets(encoded, k, window), index=texts.index
            )
        max_len = max((len(e) for e in encoded), default=0)
        one = np.ones(1, dtype=np.uint64)
        if max_len > 1:
            powers_all = np.concatenate(
                [one, np.cumprod(np.full(max_len - 1, B, dtype=np.uint64))]
            )
            invpow_all = np.concatenate(
                [one, np.cumprod(np.full(max_len - 1, inv, dtype=np.uint64))]
            )
        else:
            powers_all = invpow_all = one
        out = []
        for raw in encoded:
            b = np.frombuffer(raw, dtype=np.uint8)
            n = len(b) - k + 1
            if n <= 0:
                out.append([])
                continue
            # rolling hash via cumulative polynomial trick, all numpy:
            # h[i] = sum b[i+j] * B^(k-1-j); computed from prefix sums
            # of b[j] * B^{-j} scaled back — uint64 wrap-around is the
            # modulus (2^64), multiplicative inverses exist for odd B
            powers = powers_all[: len(b)]
            invpow = invpow_all[: len(b)]
            scaled = b.astype(np.uint64) * invpow  # b[j] * B^-j
            csum = np.cumsum(scaled, dtype=np.uint64)
            seg = csum[k - 1 :].copy()
            seg[1:] -= csum[: n - 1]
            h = seg * powers[k - 1 : k - 1 + n]  # normalize exponent
            # mix so low bytes differ (KR hashes cluster)
            h ^= h >> np.uint64(33)
            h *= np.uint64(0xFF51AFD7ED558CCD)
            h ^= h >> np.uint64(33)
            if n <= window:
                m = int(np.flatnonzero(h == h.min())[-1])
                if positions:
                    out.append([(int(h[m] >> np.uint64(1)), m)])
                else:
                    out.append([int(h[m] >> np.uint64(1))])
                continue
            win = np.lib.stride_tricks.sliding_window_view(h, window)
            # rightmost minimum per window: reverse, argmin, map back
            rev = win[:, ::-1]
            arg = window - 1 - rev.argmin(axis=1)
            pos = arg + np.arange(len(win))
            fsel = h[pos]
            keep = np.ones(len(pos), dtype=bool)
            keep[1:] = pos[1:] != pos[:-1]  # dedupe consecutive repeats
            if positions:
                out.append(
                    [(int(f >> np.uint64(1)), int(p))
                     for f, p in zip(fsel[keep], pos[keep])]
                )
            else:
                out.append(
                    [int(f) for f in np.unique(fsel[keep] >> np.uint64(1))]
                )
        return pd.Series(out, index=texts.index)

    n_part = df.sparkSession.sparkContext.defaultParallelism
    spread_df = df.repartition(n_part, id_col)
    if not positions:
        return spread_df.select(
            F.col(id_col), F.explode(_winnow(F.col(text_col))).alias("fingerprint")
        )
    return (
        spread_df
        .select(F.col(id_col), F.explode(_winnow(F.col(text_col))).alias("w"))
        .select(id_col, F.col("w.fp").alias("fingerprint"), F.col("w.pos").alias("pos"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    max_fp_df: int | None = 64,
) -> DataFrame:
    """Containment/overlap candidate pairs: documents sharing >=
    ``min_shared`` winnowing fingerprints. Inverted-index self-join on
    the fingerprint (same shape as the shingle index), stop-fingerprint
    guard drops fingerprints present in > max_fp_df docs."""
    from .dedup import counted_self_join, drop_hot_buckets, pin

    # positions=False: the UDF already emits per-doc DISTINCT
    # fingerprints, so the former corpus-wide .distinct() exchange of
    # every (id, fingerprint) row is gone (see winnow_fingerprints)
    fp = pin(winnow_fingerprints(df, id_col, text_col, k, window, positions=False))
    # materializes the pin, as in minhash_lsh_candidates
    fp.count()
    fp = drop_hot_buckets(fp, ["fingerprint"], max_fp_df)
    return counted_self_join(
        fp, ["fingerprint"], id_col, "shared_fingerprints"
    ).where(F.col("shared_fingerprints") >= min_shared)


SIMHASH_BITS = 64

#: cells cap (batch_docs x batch_vocab) for the dense bincount+matmul
#: vote path inside the simhash UDF; larger batches take the per-bit
#: weighted-bincount path (identical results, bounded memory)
SIMHASH_DENSE_VOTE_CELLS = 1 << 26


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit simhash per document — vectorized Arrow UDF.

    Token hashes come from numpy (stable blake2-free path: md5 via
    hashlib on *unique* tokens only), bits are unpacked and majority-
    voted with one matmul-free bincount pass per batch.
    """

    dense_cells = SIMHASH_DENSE_VOTE_CELLS  # closure-captured per query

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # ' +' over space-trimmed text, NOT str.split(): this is the
        # exact tokenization of text.tokens()/the SQL oracles (empty
        # text -> [''] , tabs stay inside tokens), so the simhash
        # oracle's banded==exact claim holds on EVERY input, not just
        # corpora with no degenerate whitespace
        tok_lists = texts.fillna("").str.strip(" ").str.split(r" +", regex=True)
        counts = tok_lists.str.len().to_numpy(dtype=np.int64)
        flat = [t for row in tok_lists for t in row]
        out = np.zeros(len(texts), dtype=np.int64)
        if flat:
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
                    for u in uniques
                ),
                dtype=np.uint64,
                count=len(uniques),
            )
            # votes[d, b] = (# tokens of doc d with bit b set)*2 - n_d.
            # np.add.at is the naive accumulator and measured 433 ms per
            # 2048-doc batch (unbuffered scalar ufunc); both paths below
            # are exact replacements built on C-speed bincount:
            # - small vocab: per-doc token-count matrix (one bincount)
            #   times the V x 64 unique-hash bit matrix;
            # - large vocab (bounds the n_docs*V matrix): one bincount
            #   per bit column with the bit values as weights.
            rows = np.repeat(np.arange(len(texts)), counts)
            bits_u = (
                np.unpackbits(uh.view(np.uint8).reshape(-1, 8), axis=1)
                .astype(np.int64)
                .reshape(-1, 64)
            )
            V = len(uniques)
            if V * len(texts) <= dense_cells:
                cnt = np.bincount(
                    rows * V + codes, minlength=len(texts) * V
                ).reshape(len(texts), V)
                ones = cnt @ bits_u  # tokens with bit set, per doc
            else:
                bits = bits_u[codes]
                ones = np.stack(
                    [
                        np.bincount(
                            rows, weights=bits[:, b], minlength=len(texts)
                        )
                        for b in range(64)
                    ],
                    axis=1,
                ).astype(np.int64)
            votes = 2 * ones - counts[:, None]
            sig = (votes > 0).astype(np.uint64)
            packed = np.packbits(sig.astype(np.uint8), axis=1).view(">u8").ravel()
            out = packed.astype(np.int64, casting="unsafe").view(np.int64)
        return pd.Series(out, index=texts.index)

    n_part = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_part, id_col).select(
        F.col(id_col), _simhash(F.col(text_col)).alias("simhash")
    )


def simhash_band_plan(
    max_hamming: int, probe_radius: int = 0
) -> list[tuple[int, int]]:
    """(bit_offset, width) per band, sized so the GENERALIZED pigeonhole
    GUARANTEES recall at the radius: with b = ceil((max_hamming+1) /
    (probe_radius+1)) bands, any pair within hamming ``max_hamming``
    has at least one band with <= probe_radius differing bits — found
    by probing every key within that hamming of the query's band key.
    probe_radius=0 is plain banding (max_hamming+1 bands, exact-match
    recall; round-2's fixed 4x16 layout guaranteed only hamming <= 3
    while the flagship query asked for 16 — bands must be sized to the
    radius, the same sizing<->guarantee coupling as
    similarity.band_sizing).

    The 64 bits spread as evenly as possible: (64 mod b) bands get one
    extra bit. Cost model (document, don't hide): expected candidate
    comparisons are n^2 * sum_b C(w_b, <=t) / 2^w_b — probing trades
    probe-row volume (n * b * C(w, <=t)) for FEWER, more discriminative
    buckets, a ~5x candidate cut at radius 16 (see
    simhash_probe_radius). High radii still degrade toward the
    quadratic scan, because a quarter of all bits differing simply is
    not "near"; callers at 10^12 rows should lower max_hamming, not
    raise the guard.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    b = -(-(max_hamming + 1) // (probe_radius + 1))
    base, extra = divmod(SIMHASH_BITS, b)
    plan, off = [], 0
    for i in range(b):
        w = base + (1 if i < extra else 0)
        plan.append((off, w))
        off += w
    return plan


def _probe_masks(width: int, t: int) -> list[int]:
    """Every XOR mask of <= t bits within a width-bit band (the
    multi-probe neighborhood: key ^ mask enumerates all keys within
    hamming t of key)."""
    from itertools import combinations

    masks = [0]
    for k in range(1, t + 1):
        for bits in combinations(range(width), k):
            m = 0
            for bit in bits:
                m |= 1 << bit
            masks.append(m)
    return masks


def _n_probe_masks(width: int, t: int) -> int:
    return sum(math.comb(width, k) for k in range(t + 1))


#: measured cost ratio of one shuffled probe ROW (explode + exchange +
#: hash-probe) to one candidate-pair COMPARISON (codegen bit_count on
#: already-joined rows): at n=5000/radius 16, t=2 cuts candidates 16M->3M
#: yet ran SLOWER than t=0 (3.1s vs 2.4s steady) because 1.9M probe rows
#: cost more than 13M saved comparisons — comparisons are ~ns, shuffled
#: rows ~100ns+
PROBE_ROW_COST = 50.0

#: broadcast the index side of the banding join when it holds at most
#: this many (id, simhash, band, band_key) rows = n_rows * n_bands.
#: Measured at the cap (Spark 4.1 BroadcastExchange dataSize, local[2],
#: 4M index rows): the index relation is 336 MiB (~88 B/row, with or
#: without the guard's survivor mask) and, with the guard on, the one
#: survivor-mask broadcast of (id, mask) over n_rows adds 74 MiB at 3
#: bands; all held on the driver and on every executor.
#: Above the cap (the 10^12-row regime) the join falls back to the
#: planner's shuffled strategies and probe rows pay exchange cost.
#: This row cap stays although the other near-dup operators let Spark
#: size their joins: its hint picks the BUILD side, and without it the
#: planner's estimate after posexplode broadcasts the ~7x larger probe
#: relation instead (BuildLeft, the plan round 6 fixed below). The probe
#: radius deliberately does NOT depend on this — the auto guard's
#: bucketing is a function of the band plan, so changing the plan with
#: scale would change which buckets the guard drops (i.e. the RESULT
#: wherever the guard fires); the join-side hint below is plan-only
#: and result-identical.
SIMHASH_BROADCAST_INDEX_ROWS = 4_000_000


def _index_broadcastable(n_rows: int, n_bands: int) -> bool:
    return n_rows * n_bands <= SIMHASH_BROADCAST_INDEX_ROWS


def simhash_probe_radius(max_hamming: int, n_rows: int) -> int:
    """Probe radius minimizing estimated work: weighted probe-row volume
    PROBE_ROW_COST * n * b * C(w,<=t) plus expected candidate pairs
    n^2/2 * sum C(w,<=t)/2^w. At radius 16 the optimum flips from t=0
    (17 exact-match bands, candidate factor 1.31) to t=2 (6 bands of
    ~11 bits, factor 0.24 — a 5x candidate cut) once n passes ~3x10^4,
    where the quadratic term actually dominates; below that the
    exact-match plan's cheap narrow bands win."""
    best_t, best_cost = 0, float("inf")
    for t in range(0, 4):
        plan = simhash_band_plan(max_hamming, t)
        probes = sum(_n_probe_masks(w, t) for _, w in plan)
        cand = sum(_n_probe_masks(w, t) / (1 << w) for _, w in plan)
        cost = PROBE_ROW_COST * n_rows * probes + (n_rows * n_rows / 2.0) * cand
        if cost < best_cost:
            best_t, best_cost = t, cost
    return best_t


def _segment(col: Column, offset: int, width: int) -> Column:
    if width >= 64:  # whole-signature band: (1<<64)-1 overflows LongType
        return col  # (an explicit probe_radius >= max_hamming gives b=1)
    return F.shiftrightunsigned(col, offset).bitwiseAND(F.lit((1 << width) - 1))


def simhash_near_dups(
    sig: DataFrame,
    id_col: str,
    max_hamming: int = 8,
    max_bucket_size: int | str | None = "auto",
    probe_radius: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) by radius-sized multi-probe
    simhash banding: recall is 1.0 by generalized pigeonhole
    (simhash_band_plan) before the hot-bucket guard, verified by
    tests/test_simhash_recall.py against the exact all-pairs scan at
    the flagship radius 16.

    Structure: b bands of ~64/b bits; the INDEX side holds each
    signature's exact band keys, the PROBE side explodes every key
    within hamming ``probe_radius`` of its own (key XOR the <=t-bit
    masks — pure JVM, no UDF), and the equi-join on (band, probe_key =
    index_key) finds every pair some band of which differs by <= t
    bits. One probe direction suffices: hamming is symmetric, so
    probes(x) hits key(y) iff probes(y) hits key(x), and the id_a <
    id_b constraint picks the surviving orientation. ``probe_radius``
    defaults to the cost-model optimum (simhash_probe_radius): wider
    bands with probing cut radius-16 candidates ~5x vs exact-match
    banding (0.24*n^2 vs 1.31*n^2) for n*372 probe rows.

    The hamming filter runs MAP-SIDE on the join output (JVM
    bit_count, codegen), so the distinct that dedups pairs co-occurring
    in several bands shuffles only TRUE pairs.

    The guard drops over-full INDEX buckets (non-discriminative,
    quadratic). ``max_bucket_size="auto"`` sizes it at 8x the uniform
    expectation n / 2^min_width so it only removes genuinely-hot keys,
    never the typical bucket — a fixed guard under narrow bands
    silently zeroes recall exactly like the embedding-LSH failure
    band_sizing() fixed (measured recall 0.009 with fixed r). Pass an
    int to pin it, or None to disable.

    ``n_rows``: pass the (cheap, parquet-metadata) row count to skip
    the counting job the auto guard/probe sizing otherwise runs.
    """
    # pinned: probe sizing/guard count, the guard aggregation and both
    # join sides would each re-trigger the upstream Arrow UDF otherwise
    # (dedup.pin rationale)
    from .dedup import drop_hot_buckets, pin

    sig = pin(sig.select(F.col(id_col), F.col("simhash")))
    if n_rows is None and (probe_radius is None or max_bucket_size == "auto"):
        n_rows = sig.count()
    if probe_radius is None:
        probe_radius = simhash_probe_radius(max_hamming, n_rows)
    if probe_radius >= max(max_hamming, 1):
        # t >= max_hamming collapses the plan to ONE 64-bit band, whose
        # probe masks include 1<<63 — unrepresentable as a positive
        # LongType literal (and the mask count can sit under the
        # 100k guard for small t, so this must be rejected up front)
        raise ValueError(
            f"probe_radius={probe_radius} must be < max_hamming="
            f"{max_hamming} (pigeonhole needs >= 2 bands; let it "
            "default to the cost-model optimum)"
        )
    plan = simhash_band_plan(max_hamming, probe_radius)
    bands = F.posexplode(
        F.array(*[_segment(F.col("simhash"), off, w) for off, w in plan])
    ).alias("band", "band_key")
    banded = sig.select(F.col(id_col), F.col("simhash"), bands)
    if max_bucket_size == "auto":
        min_width = min(w for _, w in plan)
        max_bucket_size = max(64, -(-8 * n_rows // (1 << min_width)))
    banded = drop_hot_buckets(banded, ["band", "band_key"], max_bucket_size)
    use_bcast = n_rows is not None and _index_broadcastable(n_rows, len(plan))
    carry = [id_col, "simhash", "band"]
    if use_bcast and max_bucket_size is not None:
        # per-doc survivor bitmask of fix 2 below, joined to the
        # signatures ONCE and pinned before either join side is
        # derived: both sides re-band the pinned rows (a set bit is a
        # band entry the guard kept), so the mask is broadcast once.
        # Joined into each side instead, Spark 4.1 ships it twice: an
        # exchange over a cached relation is not reused across the two
        # sides (the cache stage keeps its expression ids when
        # canonicalized)
        surv = banded.groupBy(id_col).agg(
            F.sum(F.expr("shiftleft(1L, band)")).alias("_surv")
        )
        banded = (
            pin(sig.join(F.broadcast(surv), id_col))
            .select(F.col(id_col), F.col("simhash"), F.col("_surv"), bands)
            .where(F.expr("shiftright(_surv, band) & 1 = 1"))
        )
        carry.append("_surv")
    if probe_radius == 0:
        probe = banded.withColumnRenamed("band_key", "probe_key")
    else:
        # per-width mask arrays (at most two distinct widths), selected
        # by a when-chain — all JVM literals, the banding stays codegen
        widths = sorted({w for _, w in plan})
        total_masks = sum(_n_probe_masks(w, probe_radius) for w in widths)
        if total_masks > 100_000:
            # an explicit oversized probe_radius (e.g. >= max_hamming,
            # collapsing to one 64-bit band) would enumerate C(w, <=t)
            # literals on the driver and explode probe-row volume; the
            # auto path (simhash_probe_radius) never gets here
            raise ValueError(
                f"probe_radius={probe_radius} needs {total_masks} probe "
                f"masks over widths {widths}; lower it (cost model in "
                "simhash_probe_radius) or let it default"
            )
        mask_arr = {
            w: F.array(*[F.lit(m) for m in _probe_masks(w, probe_radius)])
            for w in widths
        }
        sel = mask_arr[plan[0][1]]
        for i, (_, w) in enumerate(plan):
            if w != plan[0][1]:
                sel = F.when(F.col("band") == i, mask_arr[w]).otherwise(sel)
        probe = banded.select(
            *carry, "band_key", F.explode(sel).alias("_m")
        ).select(
            *carry,
            F.col("band_key").bitwiseXOR(F.col("_m")).alias("probe_key"),
        )
    # round 6: two result-identical plan fixes for the broadcastable
    # regime (index rows = n * b under SIMHASH_BROADCAST_INDEX_ROWS).
    #
    # 1. Broadcast the exact-key INDEX side. The planner's estimate
    #    after posexplode over the cached signatures picked BuildLeft —
    #    broadcasting the ~7x-larger PROBE relation (3.65M rows at
    #    sf1.0) and streaming the small index. With the index broadcast,
    #    probe rows never cross an exchange: generate -> hash-probe ->
    #    bit_count filter is one codegen stage.
    # 2. Replace the terminal ``.distinct()`` with FIRST-QUALIFYING-BAND
    #    emission. A pair co-occurring in several bands was deduped by a
    #    global distinct — a full shuffle of every true pair times its
    #    band multiplicity (at sf1.0/radius 16 that is a 172M-row
    #    exchange costing ~20 s of the leg's 41 s). Instead each joined
    #    row recomputes, from the two simhashes it already carries,
    #    which bands COULD have produced it: band b qualifies iff its
    #    xor segment has <= probe_radius bits AND both docs' band-b
    #    entries survived the hot-bucket guard (per-doc survivor
    #    bitmasks, one narrow n-row aggregate joined back by broadcast).
    #    Emitting only when the probing band IS the first qualifying
    #    band yields each pair exactly once — no distinct, no exchange;
    #    verified bit-identical (172,242,129 pairs, exceptAll empty both
    #    directions). Measured: 28.6 s -> 8.7 s for the join tail.
    #
    # Above the broadcast cap (the 10^12-row regime) both fixes are
    # withheld: the planner shuffles the join and the distinct dedups —
    # the survivor-mask join would itself be a wide join there.
    xor = F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    # pack (band, key) into ONE long join key: a single-long equi-key
    # gets Spark's specialized LongHashedRelation / long-keyed exchange
    # instead of the generic two-column UnsafeRow path — measured 6.6 s
    # -> 3.9 s over the same 6.4x10^8 candidate iterations at sf1.0,
    # identical counts. Band keys are masked non-negative and wmax < 64
    # whenever there are >= 2 bands (always: probe_radius < max_hamming
    # is enforced), so band * 2^wmax + key never collides or overflows;
    # the degenerate 1-band plan keys on the raw 64-bit segment.
    wmax = max(w for _, w in plan)
    if len(plan) == 1:
        pack = lambda key: F.col(key)  # noqa: E731
    else:
        pack = lambda key: (  # noqa: E731
            F.col("band").cast("long") * F.lit(1 << wmax)
        ) + F.col(key)
    probe = probe.withColumn("_jk", pack("probe_key"))
    banded = banded.withColumn("_jk", pack("band_key"))
    left = probe.alias("l")
    right = banded.alias("r")
    if use_bcast:
        right = F.broadcast(right)
    joined = left.join(
        right,
        (F.col("l._jk") == F.col("r._jk"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).where(F.bit_count(xor) <= max_hamming)  # map-side, pre-dedup
    if use_bcast:
        if max_bucket_size is not None:
            both = F.col("l._surv").bitwiseAND(F.col("r._surv"))
            survives = lambda b: (  # noqa: E731
                F.shiftrightunsigned(both, b).bitwiseAND(F.lit(1)) == 1
            )
        else:
            survives = lambda b: F.lit(True)  # noqa: E731
        first_band = F.lit(-1)
        for b in reversed(range(len(plan))):
            off, w = plan[b]
            band_xor = F.shiftrightunsigned(xor, off).bitwiseAND(
                F.lit((1 << w) - 1)
            )
            first_band = F.when(
                (F.bit_count(band_xor) <= probe_radius) & survives(b), F.lit(b)
            ).otherwise(first_band)
        return joined.where(F.col("l.band") == first_band).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
    return joined.select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        F.bit_count(xor).alias("hamming"),
    ).distinct()
