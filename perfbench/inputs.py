"""Seeded benchmark inputs, cached on disk by a (rows, seed) stamp.

Everything here runs before set-up and outside every timed region. The
program under test only ever sees the files written here.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 16
REWRITTEN = 2  # shards a re-import rewrites

# the documents vocabulary of the repo's sf* test tables
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_DIM = 64


def _cached(path: str, stamp: dict, build) -> str:
    """Return ``path`` if its stamp matches, else rebuild it with ``build``.

    The stamp is written last, so a build killed half-way is redone."""
    stamp_path = os.path.join(path, "_stamp.json")
    try:
        with open(stamp_path) as f:
            if json.load(f) == stamp:
                return path
    except (OSError, ValueError):
        pass
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    return path


def image_corpus(root: str, rows: int, seed: int) -> str:
    """A ``corpus.generate_pairs`` corpus in ``N_SHARDS`` parquet shards,
    plus ``golden.parquet``: ``reference_labeler.label`` over the same rows.

    Layout: ``<dir>/source/part-NN.parquet`` and ``<dir>/golden.parquet``.
    """
    from gobulk_spark import reference_labeler
    from gobulk_spark.corpus import generate_pairs

    def build(d: str) -> None:
        pairs, _ = generate_pairs(rows, seed=seed)
        src = os.path.join(d, "source")
        os.makedirs(src)
        bounds = np.linspace(0, pairs.num_rows, N_SHARDS + 1).astype(int)
        for i in range(N_SHARDS):
            shard = pairs.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(shard, os.path.join(src, f"part-{i:02d}.parquet"))
        golden = reference_labeler.label(pairs.to_pandas())
        golden = golden[["image_id", "keep", "scrubbed_caption"]]
        pq.write_table(
            pa.Table.from_pandas(golden, preserve_index=False),
            os.path.join(d, "golden.parquet"),
        )

    d = os.path.join(root, f"images-{rows}-{seed}")
    return _cached(d, {"kind": "images", "rows": rows, "seed": seed}, build)


def reimport_shards(root: str, rows: int, seed: int) -> str:
    """Rewritten copies of the first ``REWRITTEN`` shards of
    ``image_corpus(rows, seed)``, plus ``golden.parquet``:
    ``reference_labeler.label`` over the whole source with those shards
    swapped in.

    In each rewritten shard a seeded tenth of the kept rows take another
    kept row's caption (updates), a twentieth take a caption that fails
    the length rule (deletes), and new ids, a tenth as many as the shard
    holds and each one the reference labeler keeps, are appended
    (creates). Only rows whose content hash is unique in the corpus are
    touched, and new rows share no content hash with anything, so no
    duplicate group changes between the two imports.

    Layout: ``<dir>/source/part-NN.parquet`` and ``<dir>/golden.parquet``.
    """
    from gobulk_spark import reference_labeler
    from gobulk_spark.corpus import generate_pairs

    base = image_corpus(root, rows, seed)

    def build(d: str) -> None:
        rng = np.random.default_rng(seed)
        src = os.path.join(base, "source")
        names = sorted(os.listdir(src))
        shards = {n: pq.read_table(os.path.join(src, n)) for n in names}
        schema = shards[names[0]].schema
        full = pa.concat_tables(shards.values()).to_pandas()
        chash = reference_labeler.content_hash(full["bytes"], full["caption"])
        golden = pd.read_parquet(os.path.join(base, "golden.parquet")).set_index("image_id")
        keep = golden.loc[full["image_id"], "keep"].to_numpy()
        unique = ~chash.duplicated(keep=False).to_numpy()
        donors = full.loc[keep, "caption"].to_numpy()
        n_new = max(2, rows // N_SHARDS // 10) * REWRITTEN
        fresh = generate_pairs(4 * n_new, seed=seed + 7919)[0].to_pandas()
        fresh_hash = reference_labeler.content_hash(fresh["bytes"], fresh["caption"])
        fresh = fresh[~fresh_hash.duplicated(keep=False) & ~fresh_hash.isin(set(chash))]
        fresh = fresh[reference_labeler.label(fresh)["keep"].to_numpy()].head(n_new)
        fresh = fresh.assign(image_id=[f"new-{seed}-{i:06x}" for i in range(len(fresh))])
        new_per_shard = [fresh.iloc[k::REWRITTEN] for k in range(REWRITTEN)]
        os.makedirs(os.path.join(d, "source"))
        for k, n in enumerate(names[:REWRITTEN]):
            pdf = shards[n].to_pandas()
            rows_here = full["image_id"].isin(set(pdf["image_id"])).to_numpy()
            cand = full.loc[rows_here & keep & unique, "image_id"].to_numpy()
            cand = rng.permutation(cand)
            n_upd, n_del = max(1, len(cand) // 10), max(1, len(cand) // 20)
            upd, dele = set(cand[:n_upd]), set(cand[n_upd : n_upd + n_del])
            m = pdf["image_id"].isin(upd)
            pdf.loc[m, "caption"] = rng.choice(donors, size=int(m.sum()))
            pdf.loc[pdf["image_id"].isin(dele), "caption"] = "zz"
            pdf = pd.concat([pdf, new_per_shard[k]], ignore_index=True)
            shards[n] = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
            pq.write_table(shards[n], os.path.join(d, "source", n))
        golden = reference_labeler.label(pa.concat_tables(shards.values()).to_pandas())
        golden = golden[["image_id", "keep", "scrubbed_caption"]]
        pq.write_table(
            pa.Table.from_pandas(golden, preserve_index=False),
            os.path.join(d, "golden.parquet"),
        )

    d = os.path.join(root, f"reimport-{rows}-{seed}")
    return _cached(d, {"kind": "reimport", "rows": rows, "seed": seed}, build)


def _documents(rng: np.random.Generator, rows: int) -> pd.DataFrame:
    """Random-word documents shaped like the sf* ``documents`` table; one
    in twenty is a truncated copy of an earlier document ending in "dup",
    so the near-duplicate operators have pairs to find."""
    texts: list[str] = []
    for i in range(rows):
        if i > 20 and rng.random() < 0.05:
            donor = texts[int(rng.integers(0, i))].split()
            keep = max(8, int(len(donor) * rng.uniform(0.7, 1.0)))
            texts.append(" ".join(donor[:keep] + ["dup"]))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, size=n)))
    ids = np.arange(rows, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, size=rows, p=_LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, rows: int) -> pa.Table:
    """Unit-norm float32 vectors with random integer labels, like the sf*
    ``embeddings`` table."""
    x = rng.standard_normal((rows, _DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, rows).astype(np.int32)),
        }
    )


def curation_tables(root: str, docs: int, vecs: int, seed: int, oracles: dict[str, str]) -> str:
    """``documents.parquet`` + ``embeddings.parquet`` with the sf* schemas,
    plus ``oracle/<name>.parquet``: each ``oracles`` SQL text run by
    DuckDB over views of those two tables."""

    def build(d: str) -> None:
        import duckdb

        rng = np.random.default_rng(seed)
        pq.write_table(
            pa.Table.from_pandas(_documents(rng, docs), preserve_index=False),
            os.path.join(d, "documents.parquet"),
        )
        pq.write_table(_embeddings(rng, vecs), os.path.join(d, "embeddings.parquet"))
        os.makedirs(os.path.join(d, "oracle"))
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(d, '_duckdb_tmp')}'")
            for t in ("documents", "embeddings"):
                path = os.path.join(d, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name, sql in oracles.items():
                pq.write_table(
                    pa.Table.from_pandas(con.execute(sql).df(), preserve_index=False),
                    os.path.join(d, "oracle", f"{name}.parquet"),
                )
        finally:
            con.close()

    d = os.path.join(root, f"curation-{docs}-{vecs}-{seed}")
    sql_hash = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()
    stamp = {"kind": "curation", "docs": docs, "vecs": vecs, "seed": seed, "oracles": sql_hash}
    return _cached(d, stamp, build)
