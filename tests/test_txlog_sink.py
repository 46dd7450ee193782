"""TxLogKeptSink: the from-scratch transaction-log table format.

Contracts under test: e2e pipeline parity with ParquetKeptSink,
MERGE-shaped delete rewrite on incremental re-imports, snapshot
isolation + time travel, optimistic-concurrency commits, crash-orphan
recovery, retried-run supersede, vacuum retention, schema-in-log
validation.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gobulk_spark import lineage
from gobulk_spark.config import PipelineConfig
from gobulk_spark.pipeline import run_pipeline
from gobulk_spark.sinks import ParquetKeptSink, SinkSchemaMismatch
from gobulk_spark.txlog import TxLogKeptSink

BASE = "/tmp/gobulk_spark_test_out/txlog"


def _src(n=200, seed=31) -> str:
    from gobulk_spark.corpus import generate_pairs

    os.makedirs(BASE, exist_ok=True)
    pairs, _ = generate_pairs(n, seed=seed)
    path = os.path.join(BASE, f"src{n}_{seed}.parquet")
    pq.write_table(pairs, path)
    return path


def _kept_frame(sink, spark):
    df = sink.read(spark)
    cols = sorted(df.columns)
    return (
        df.select(cols).toPandas().sort_values("image_id").reset_index(drop=True)
    )


def test_e2e_matches_parquet_sink_and_delete_rewrites(spark):
    """Full pipeline against the txlog sink must produce the same kept
    rows as the default sink, across a create run AND a re-delivery
    run (which drives the MERGE-shaped delete + update path)."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src()
    out_a, out_b = os.path.join(BASE, "a"), os.path.join(BASE, "b")
    sinks = {}
    for out, cls in ((out_a, TxLogKeptSink), (out_b, ParquetKeptSink)):
        sinks[out] = cls(out)
        run_pipeline(
            spark,
            PipelineConfig(source_path=src, out_dir=out, run_id="r1"),
            sink=sinks[out],
        )
    a1 = _kept_frame(sinks[out_a], spark)
    b1 = _kept_frame(sinks[out_b], spark)
    pd.testing.assert_frame_equal(a1, b1)
    # re-delivered content: delete from prior runs + re-create
    for out in (out_a, out_b):
        run_pipeline(
            spark,
            PipelineConfig(source_path=src, out_dir=out, run_id="r2"),
            sink=sinks[out],
        )
    a2 = _kept_frame(sinks[out_a], spark)
    b2 = _kept_frame(sinks[out_b], spark)
    pd.testing.assert_frame_equal(
        a2.drop(columns=["run"]), b2.drop(columns=["run"])
    )
    assert a2["image_id"].is_unique
    # the re-delivered (updated) ids landed as ONE atomic merge commit:
    # matched files removed + rewrites/update files added together —
    # never a delete commit followed by a separate write commit
    hist = sinks[out_a].history(spark)
    merges = [e for e in hist if e["op"] == "merge"]
    assert len(merges) == 2  # r1: pure append; r2: the re-delivery
    assert not merges[0]["remove"] and merges[0]["add"]
    assert merges[1]["remove"] and merges[1]["add"]
    assert not [e for e in hist if e["op"] == "delete"]


def test_time_travel_and_snapshot_isolation(spark):
    """read(version=N) reproduces exactly the table as of commit N,
    including rows later deleted."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "tt"))
    df1 = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    )
    df2 = spark.createDataFrame(
        [("c", "y", 3)], "image_id string, lang string, v int"
    )
    sink.write(df1, "r1")
    sink.write(df2, "r2")
    keys = spark.createDataFrame([("a",)], "image_id string")
    sink.delete(spark, "r3", keys)
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"b", "c"}
    assert {r["image_id"] for r in sink.read(spark, version=1).collect()} == {
        "a",
        "b",
    }
    assert {r["image_id"] for r in sink.read(spark, version=2).collect()} == {
        "a",
        "b",
        "c",
    }
    hist = sink.history(spark)
    assert [e["version"] for e in hist] == [1, 2, 3]
    assert hist[2]["op"] == "delete"


def test_commit_is_atomic_rename_losers_retry(spark):
    """If the next version number is already taken (a concurrent
    writer won), the commit retries under the following version —
    nothing is lost, the log stays a gap-free sequence."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "occ"))
    df = spark.createDataFrame([("a", "x", 1)], "image_id string, lang string, v int")
    sink.write(df, "r1")
    # simulate a rival: pre-claim version 2 by hand
    os.makedirs(sink.log_dir, exist_ok=True)
    rival = {
        "version": 2,
        "op": "write",
        "run_id": "rival",
        "add": [],
        "schema": "image_id string, lang string, v int, run string",
    }
    with open(os.path.join(sink.log_dir, f"{2:020d}.json"), "w") as f:
        json.dump(rival, f)
    df2 = spark.createDataFrame([("b", "x", 2)], "image_id string, lang string, v int")
    sink.write(df2, "r2")
    hist = sink.history(spark)
    assert [e["version"] for e in hist] == [1, 2, 3]
    assert hist[2]["run_id"] == "r2"
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"a", "b"}


def test_delete_retries_on_stale_snapshot(spark):
    """A delete whose snapshot went stale (another commit landed before
    its own) must re-derive and still remove the victims — the commit
    carries base_version and refuses to land against a moved table."""
    from gobulk_spark import txlog as txmod

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "stale"))
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    )
    sink.write(df, "r1")
    real_commit = TxLogKeptSink._commit
    raced = {"done": False}

    def racing_commit(self, spark_, entry, base_version=None):
        # on the FIRST delete-commit attempt, sneak a rival write in
        # first so the base_version check fails exactly once
        if entry["op"] == "delete" and not raced["done"]:
            raced["done"] = True
            rival = spark_.createDataFrame(
                [("z", "x", 9)], "image_id string, lang string, v int"
            )
            sink2 = TxLogKeptSink(self.out_dir)
            sink2.write(rival, "rival")
        return real_commit(self, spark_, entry, base_version)

    txmod.TxLogKeptSink._commit = racing_commit
    try:
        keys = spark.createDataFrame([("a",)], "image_id string")
        sink.delete(spark, "r2", keys)
    finally:
        txmod.TxLogKeptSink._commit = real_commit
    assert raced["done"]
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"b", "z"}


def test_recover_cleans_uncommitted_orphans_keeps_history(spark):
    """Files landed by a write that crashed before its commit are
    orphans -> recover removes them; files REMOVED by a commit stay on
    disk (time travel needs them) until vacuum."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "rec"))
    df = spark.createDataFrame([("a", "x", 1)], "image_id string, lang string, v int")
    sink.write(df, "r1")
    # fake a crashed write: data files, no commit
    orphan_dir = os.path.join(sink.data_dir, "run-crashed")
    df.withColumn("run", F.lit("crashed")).write.mode("overwrite").parquet(
        orphan_dir
    )
    assert os.path.isdir(orphan_dir)
    # default grace window: a FRESH unreferenced dir survives (it may
    # be a concurrent writer's landed-but-uncommitted files)
    sink.recover(spark)
    assert os.path.isdir(orphan_dir)
    # aged out (min_age_s=0 models the post-crash maintenance pass)
    sink.recover(spark, min_age_s=0)
    assert not os.path.isdir(orphan_dir)
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"a"}
    # delete a, then vacuum: the removed file survives until vacuum
    sink.delete(spark, "r2", spark.createDataFrame([("a",)], "image_id string"))
    sink.recover(spark, min_age_s=0)
    assert sink.read(spark, version=1) is not None  # time travel still works
    assert {r["image_id"] for r in sink.read(spark, version=1).collect()} == {"a"}
    n = sink.vacuum(spark)
    assert n >= 1
    latest = sink.read(spark)
    assert latest is None or latest.count() == 0  # empty at latest


def test_retried_run_supersedes_its_own_commit(spark):
    """A run that commits, then re-runs (resume after a crash later in
    the phase), must not double its rows: the second write entry for
    the same run_id supersedes the first at replay."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "retry"))
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    )
    sink.write(df, "r1")
    sink.write(df, "r1")  # retried run, same content
    out = sink.read(spark).toPandas()
    assert sorted(out["image_id"]) == ["a", "b"]
    assert len(sink.history(spark)) == 2


def test_validate_rejects_mismatched_schema_from_log_only(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "schema"))
    df = spark.createDataFrame([("a", "x", 1)], "image_id string, lang string, v int")
    sink.write(df, "r1")
    sink.validate(spark, "image_id string, lang string, v int")
    with pytest.raises(SinkSchemaMismatch):
        sink.validate(spark, "image_id string, lang string, v bigint")
    with pytest.raises(SinkSchemaMismatch):
        sink.validate(spark, "image_id string, lang string")


def test_incremental_second_run_only_changed_rows(spark):
    """The marker/lineage tier composes with the txlog sink: an
    unchanged re-delivery imports nothing; a changed shard re-imports
    only its rows via delete+write commits."""
    shutil.rmtree(BASE, ignore_errors=True)
    src = _src(150, seed=33)
    out = os.path.join(BASE, "inc")
    sink = TxLogKeptSink(out)
    run_pipeline(
        spark, PipelineConfig(source_path=src, out_dir=out, run_id="r1"), sink=sink
    )
    k1 = _kept_frame(sink, spark)
    hist1 = len(sink.history(spark))
    run_pipeline(
        spark,
        PipelineConfig(
            source_path=src, out_dir=out, run_id="r2", incremental=True
        ),
        sink=sink,
    )
    k2 = _kept_frame(sink, spark)
    pd.testing.assert_frame_equal(
        k1.drop(columns=["run"]), k2.drop(columns=["run"])
    )
    audit2 = lineage.read_audit(spark, out).toPandas()
    r2 = audit2[audit2.run_id == "r2"]
    assert (r2.action == "create").sum() == 0  # nothing changed, nothing lands
    # the no-op run commits NOTHING: the empty-merge guard skips the
    # store commit entirely, so an idle sweep never grows the log
    assert len(sink.history(spark)) == hist1


def test_log_checkpoint_compacts_replay(spark):
    """Every CHECKPOINT_EVERY commits a checkpoint file materializes
    the replayed state: reads start from it (a stray .tmp commit file
    and the checkpoint itself are never parsed as entries), time travel
    BEFORE the checkpoint still replays the raw prefix, and the
    checkpointed state equals a from-scratch replay."""
    from gobulk_spark.txlog import CHECKPOINT_EVERY

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "cp"))
    n = CHECKPOINT_EVERY + 2
    for i in range(n):
        df = spark.createDataFrame(
            [(f"id{i}", "x", i)], "image_id string, lang string, v int"
        )
        sink.write(df, f"r{i}")
    cp = os.path.join(sink.log_dir, f"{CHECKPOINT_EVERY:020d}.checkpoint.json")
    assert os.path.exists(cp)
    # a crashed commit's tmp file must be ignored by the entry listing
    with open(os.path.join(sink.log_dir, ".tmp-deadbeef.json"), "w") as f:
        f.write("{not json")
    assert {r["image_id"] for r in sink.read(spark).collect()} == {
        f"id{i}" for i in range(n)
    }
    # time travel below the checkpoint replays the raw prefix
    assert {r["image_id"] for r in sink.read(spark, version=3).collect()} == {
        "id0",
        "id1",
        "id2",
    }
    # checkpointed state == from-scratch replay
    with open(cp) as f:
        state = json.load(f)
    raw = {}
    for e in sink.history(spark):
        if e["version"] > CHECKPOINT_EVERY:
            break
        TxLogKeptSink._apply(raw, e)
    assert {p: tuple(t) for p, t in state["live"].items()} == raw
    assert len(sink.history(spark)) == n


def test_streaming_drain_composes_with_txlog_sink(spark):
    """The streaming ingest (epochs, marker, dead-letter retry queue)
    runs against the txlog sink unchanged: each epoch's kept rows land
    as one atomic commit, and a second sweep of new files appends
    without disturbing the first epoch's snapshot."""
    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.streaming.incremental import run_streaming_ingest

    shutil.rmtree(BASE, ignore_errors=True)
    src_dir = os.path.join(BASE, "stream_src")
    out = os.path.join(BASE, "stream_out")
    os.makedirs(src_dir)
    pairs, _ = generate_pairs(120, seed=35)
    pq.write_table(pairs.slice(0, 60), os.path.join(src_dir, "part-000.parquet"))
    sink = TxLogKeptSink(out)
    cfg = PipelineConfig(source_path=src_dir, out_dir=out, run_id="s1")
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    k1 = {r["image_id"] for r in sink.read(spark).collect()}
    assert k1
    v1 = sink.history(spark)[-1]["version"]
    pq.write_table(pairs.slice(60, 60), os.path.join(src_dir, "part-001.parquet"))
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    k2 = {r["image_id"] for r in sink.read(spark).collect()}
    assert k1 < k2  # strictly grew; epoch 1 rows untouched
    # time travel back to the first epoch's commit
    assert {r["image_id"] for r in sink.read(spark, version=v1).collect()} == k1
    # audit/marker tiers agree with the store
    audit = lineage.read_audit(spark, out).toPandas()
    created = set(audit.loc[audit.action == "create", "image_id"])
    assert k2 == created


def test_retried_committed_run_preserves_history_after_rewrite(spark):
    """Regression (round-5 review): run r1 commits, a later delete
    rewrites ALL of r1's files out of the live set (they remain
    time-travel history), then r1 re-runs. The retry must land under a
    fresh dir — an overwrite of data/run-r1 would erase files version 1
    still references — and every prior version must stay readable."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "hist"))
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    )
    sink.write(df, "r1")  # v1
    # delete EVERY r1 row: all of r1's files leave the live set
    sink.delete(
        spark, "rdel", spark.createDataFrame([("a",), ("b",)], "image_id string")
    )  # v2
    sink.write(df, "r1")  # v3: crash-resume of r1 re-lands the rows
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"a", "b"}
    assert {r["image_id"] for r in sink.read(spark, version=1).collect()} == {
        "a",
        "b",
    }
    v2 = sink.read(spark, version=2)
    assert v2 is None or v2.count() == 0


# ---------------------------------------------------------------------------
def test_restore_rolls_back_metadata_only_with_exact_feed(spark):
    """RESTORE TO VERSION: one commit flips the live set back to the
    old snapshot without touching data bytes; versions between stay
    time-travelable; the change feed carries the exact row delta so a
    folded consumer follows the rollback."""
    from collections import Counter

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "restore"))
    df1 = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    ).coalesce(1)
    df2 = spark.createDataFrame(
        [("c", "y", 3)], "image_id string, lang string, v int"
    )
    sink.write(df1, "r1")  # v1 {a,b}
    sink.write(df2, "r2")  # v2 {a,b,c}
    out = sink.delete_where(spark, "rdel", [("v", "<=", 1)])  # v3 {b,c}
    assert out["version"] == 3
    rv = sink.restore(spark, "roll", 2)  # v4 == v2's state
    assert rv == 4
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"a", "b", "c"}
    # versions BETWEEN the target and the restore still time travel
    assert {r["image_id"] for r in sink.read(spark, version=3).collect()} == {
        "b",
        "c",
    }
    hist = sink.history(spark)
    assert hist[-1]["op"] == "restore" and hist[-1]["restore_of"] == 2
    # metadata-only: the restore commit landed no new data files — its
    # adds were all already referenced by earlier commits
    earlier = {p for e in hist[:-1] for p in e.get("add", ())}
    assert set(hist[-1]["add"]) <= earlier and hist[-1]["add"]
    # carried stats: the re-added files keep their recorded stats so
    # data skipping works on the restored table
    assert any(hist[-1]["stats"].values())
    # restoring to the state the table is already at is a no-op
    assert sink.restore(spark, "roll2", 2) is None
    assert len(sink.history(spark)) == 4
    # exact multiset feed: folding every commit window reproduces the
    # final table through the rollback
    state: Counter = Counter()
    for r in sink.read_changes(spark, from_version=0).collect():
        state[(r["image_id"], r["v"])] += (
            1 if r["_change_type"] == "insert" else -1
        )
    assert {k for k, n in state.items() if n} == {("a", 1), ("b", 2), ("c", 3)}
    assert all(n in (0, 1) for n in state.values())


def test_restore_refuses_future_and_vacuumed_targets(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "restore_bad"))
    df = spark.createDataFrame(
        [("a", "x", 1)], "image_id string, lang string, v int"
    )
    sink.write(df, "r1")  # v1
    with pytest.raises(ValueError, match="table is at"):
        sink.restore(spark, "roll", 9)
    sink.write(df, "r1")  # v2: retried run supersedes v1's files
    assert sink.vacuum(spark) > 0  # v1's files reclaimed
    with pytest.raises(ValueError, match="vacuumed"):
        sink.restore(spark, "roll", 1)


# model-based property test: random op sequences vs a reference model
# ---------------------------------------------------------------------------

from hypothesis import given, settings as hyp_settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_IDS = ["a", "b", "c", "d", "e"]
_RUNS = ["r1", "r2", "r3"]

_op = st.one_of(
    st.tuples(
        st.just("write"),
        st.sampled_from(_RUNS),
        st.lists(st.sampled_from(_IDS), min_size=1, max_size=4, unique=True),
    ),
    st.tuples(
        st.just("delete"),
        st.sampled_from(_RUNS),
        st.lists(st.sampled_from(_IDS), min_size=1, max_size=3, unique=True),
    ),
    st.tuples(
        st.just("merge"),
        st.sampled_from(_RUNS),
        st.lists(st.sampled_from(_IDS), min_size=1, max_size=3, unique=True),
    ),
    st.tuples(
        st.just("optimize"),
        st.just(""),
        st.just([]),
    ),
    st.tuples(
        st.just("restore"),
        st.just(""),
        st.just([]),
    ),
)


@hyp_settings(max_examples=6, deadline=None)
@given(ops=st.lists(_op, min_size=2, max_size=6))
def test_txlog_random_op_sequences_match_model(spark, ops):
    """Model-based check of the commit-log replay semantics: apply a
    random write/delete sequence to the sink AND to a flat reference
    model (write(rid, rows) supersedes rid's prior write contribution;
    delete(rid, keys) removes victim rows stamped by OTHER runs), then
    require (a) the live table to equal the model after every op and
    (b) time travel to reproduce the model's state as of EVERY commit."""
    import uuid as _uuid

    out = os.path.join(BASE, f"prop-{_uuid.uuid4().hex[:8]}")
    sink = TxLogKeptSink(out)
    model: list[tuple[str, str]] = []  # (image_id, run)
    versions: list[tuple[int, set]] = []

    def table() -> set:
        df = sink.read(spark)
        return (
            set()
            if df is None
            else {(r["image_id"], r["run"]) for r in df.collect()}
        )

    for kind, rid, ids in ops:
        if kind == "optimize":
            # content-preserving by contract: the model does not change
            if sink.optimize(spark, target_file_bytes=1 << 30) == 0:
                assert table() == set(model)
                continue  # nothing to pack: no commit
        elif kind == "restore":
            if not versions:
                continue  # nothing committed yet: nothing to roll to
            tv, expect = versions[len(versions) // 2]
            rv = sink.restore(spark, f"restore-to-{tv}", tv)
            model = sorted(expect)
            if rv is None:  # already at that state: no commit
                assert table() == set(model)
                continue
        elif kind == "write":
            df = spark.createDataFrame(
                [(i, "x", 1) for i in ids], "image_id string, lang string, v int"
            )
            sink.write(df, rid)
            model = [(i, r) for (i, r) in model if r != rid] + [
                (i, rid) for i in ids
            ]
        elif kind == "merge":
            df = spark.createDataFrame(
                [(i, "x", 2) for i in ids], "image_id string, lang string, v int"
            )
            sink.merge(spark, rid, df)
            # upsert: matched keys replaced whatever run stamped them,
            # the rest appended
            model = [(i, r) for (i, r) in model if i not in ids] + [
                (i, rid) for i in ids
            ]
        else:
            before = len(sink.history(spark))
            sink.delete(
                spark,
                rid,
                spark.createDataFrame([(i,) for i in ids], "image_id string"),
            )
            model = [
                (i, r) for (i, r) in model if not (i in ids and r != rid)
            ]
            if len(sink.history(spark)) == before:
                # no-op delete (no victims): no commit, nothing to record
                assert table() == set(model)
                continue
        v = sink.history(spark)[-1]["version"]
        versions.append((v, set(model)))
        assert table() == set(model), f"live mismatch after {kind} {rid} {ids}"
    for v, expect in versions:
        df = sink.read(spark, version=v)
        got = (
            set()
            if df is None
            else {(r["image_id"], r["run"]) for r in df.collect()}
        )
        assert got == expect, f"time travel to v{v}"
    # change-feed reconstruction: folding each commit window's feed
    # forward reproduces the model state at EVERY commit — including
    # across retried-run purges and compactions
    from collections import Counter

    state: Counter = Counter()
    pv = 0
    for v, expect in versions:
        feed = sink.read_changes(spark, from_version=pv, to_version=v)
        if feed is not None:
            for r in feed.collect():
                k = (r["image_id"], r["run"])
                state[k] += 1 if r["_change_type"] == "insert" else -1
        state = Counter({k: n for k, n in state.items() if n})
        assert set(state) == expect and all(
            n == 1 for n in state.values()
        ), f"feed reconstruct v{v}"
        pv = v
    shutil.rmtree(out, ignore_errors=True)


def test_retried_run_after_partial_rewrite_does_not_duplicate_rows(spark):
    """Regression (round-5 review #2): r1 writes {a,b}; a delete
    removes ONLY a, so b's surviving row moves into a rewrite file
    tagged by the deleting run; r1 then re-runs. The write-supersede
    rule cannot touch the rewrite file, so the retry must PURGE its
    rows from it in the same commit — otherwise b appears twice."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "dup"))
    # ONE file holding both rows: the delete must drag b's surviving
    # row into its rewrite file for the regression to be reachable
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    ).coalesce(1)
    sink.write(df, "r1")  # v1
    sink.delete(spark, "rdel", spark.createDataFrame([("a",)], "image_id string"))
    sink.write(df, "r1")  # retried run re-lands {a,b}
    rows = sink.read(spark).collect()
    assert sorted((r["image_id"], r["run"]) for r in rows) == [
        ("a", "r1"),
        ("b", "r1"),
    ]  # COUNT matters: the old replay produced b twice
    # history still replays: v1 = {a,b}, v2 = {b}
    assert sorted(r["image_id"] for r in sink.read(spark, version=1).collect()) == [
        "a",
        "b",
    ]
    assert [r["image_id"] for r in sink.read(spark, version=2).collect()] == ["b"]
    # the purging write records the rewrite-file swap in its own entry
    last = sink.history(spark)[-1]
    assert last["op"] == "write" and last["remove"]


def test_optimize_compacts_small_files(spark):
    """OPTIMIZE bin-packs the per-epoch small files into few large
    ones in one content-preserving commit; time travel still reads the
    pre-compaction layout; a packed table is a no-op."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "opt"))
    for i in range(4):
        df = spark.createDataFrame(
            [(f"id{i}-{j}", "x", i * 10 + j) for j in range(4)],
            "image_id string, lang string, v int",
        ).repartition(2)
        sink.write(df, f"r{i}")
    live_before = sink._state(spark)[0]
    assert len(live_before) == 8
    before = _kept_frame(sink, spark)
    n = sink.optimize(spark, target_file_bytes=1 << 30)
    assert n == 8
    live_after = sink._state(spark)[0]
    assert len(live_after) == 1
    assert all(
        tag[:2] == ("optimize", "optimize") for tag in live_after.values()
    )
    # every live file's byte length is log metadata (no FS probes)
    assert all(isinstance(tag[2], int) for tag in live_after.values())
    pd.testing.assert_frame_equal(before, _kept_frame(sink, spark))
    last = sink.history(spark)[-1]
    assert last["op"] == "optimize" and len(last["remove"]) == 8
    pre = sink.read(spark, version=last["version"] - 1)
    assert sorted(r["image_id"] for r in pre.collect()) == sorted(
        before["image_id"]
    )
    # already packed: nothing to do
    assert sink.optimize(spark, target_file_bytes=1 << 30) == 0


def test_retried_run_after_optimize_does_not_duplicate_rows(spark):
    """Compaction mixes runs into shared files the write-supersede
    replay rule cannot touch — a later retry of a compacted run must
    purge its rows out of the packed file (the generalized
    tag != 'write' purge), or the retry duplicates them."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "optdup"))
    df1 = spark.createDataFrame(
        [("a", "x", 1)], "image_id string, lang string, v int"
    )
    df2 = spark.createDataFrame(
        [("b", "x", 2)], "image_id string, lang string, v int"
    )
    sink.write(df1, "r1")
    sink.write(df2, "r2")
    assert sink.optimize(spark, target_file_bytes=1 << 30) >= 2
    sink.write(df1, "r1")  # retried run: its row now lives in the opt file
    rows = sink.read(spark).collect()
    assert sorted((r["image_id"], r["run"]) for r in rows) == [
        ("a", "r1"),
        ("b", "r2"),
    ]
    last = sink.history(spark)[-1]
    assert last["op"] == "write" and last["remove"]


def _feed_script(spark, sink):
    """write r1{a,b} / write r2{c} / delete a / optimize / retry r1."""
    df1 = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
    ).coalesce(1)
    df2 = spark.createDataFrame(
        [("c", "y", 3)], "image_id string, lang string, v int"
    )
    sink.write(df1, "r1")  # v1
    sink.write(df2, "r2")  # v2
    sink.delete(
        spark, "rdel", spark.createDataFrame([("a",)], "image_id string")
    )  # v3
    assert sink.optimize(spark, target_file_bytes=1 << 30) >= 2  # v4
    sink.write(df1, "r1")  # v5: retry after compaction


def test_read_changes_incremental_feed(spark):
    """The change feed carries exactly the per-commit inserts/deletes:
    appends as inserts, MERGE deletes as deletes, optimize as silence,
    and a retried run as explicit delete-then-insert re-delivery."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "cdf"))
    _feed_script(spark, sink)
    feed = sink.read_changes(spark)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["image_id"])
        for r in feed.collect()
    )
    assert got == [
        (1, "insert", "a"),
        (1, "insert", "b"),
        (2, "insert", "c"),
        (3, "delete", "a"),
        (5, "delete", "b"),  # r1's pre-retry survivor, purged from opt
        (5, "insert", "a"),
        (5, "insert", "b"),
    ]
    # a bounded window sees only its commits; an empty window is None
    win = sink.read_changes(spark, from_version=1, to_version=3)
    assert sorted(
        (r["_commit_version"], r["_change_type"], r["image_id"])
        for r in win.collect()
    ) == [(2, "insert", "c"), (3, "delete", "a")]
    assert sink.read_changes(spark, from_version=4, to_version=4) is None


def test_change_feed_reconstructs_every_snapshot(spark):
    """Exact multiset property: rows(v) == rows(v-1) ⊎ inserts(v) ∖
    deletes(v) for every commit — a consumer replaying the feed
    reconstructs each snapshot without rescanning the table."""
    from collections import Counter

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "cdfprop"))
    _feed_script(spark, sink)
    cols = ["image_id", "lang", "v", "run"]

    def snap(v):
        df = sink.read(spark, version=v) if v else None
        if df is None:
            return Counter()
        return Counter(tuple(r[c] for c in cols) for r in df.collect())

    last = sink.history(spark)[-1]["version"]
    for v in range(1, last + 1):
        feed = sink.read_changes(spark, from_version=v - 1, to_version=v)
        state = snap(v - 1)
        if feed is not None:
            for r in feed.collect():
                key = tuple(r[c] for c in cols)
                if r["_change_type"] == "insert":
                    state[key] += 1
                else:
                    state[key] -= 1
    # drop zero-count residue before comparing
        state = Counter({k: n for k, n in state.items() if n})
        assert state == snap(v), f"feed does not reconstruct v{v}"


def test_streaming_auto_compaction_keeps_file_count_bounded(spark):
    """A multi-epoch stream into the txlog sink self-compacts via the
    post-epoch maintain hook: per-epoch commits fragment the store,
    and once the live-file count crosses the sink's threshold an
    optimize commit packs it — no external maintenance job, rows and
    incremental semantics untouched."""
    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.streaming.incremental import run_streaming_ingest

    shutil.rmtree(BASE, ignore_errors=True)
    src_dir = os.path.join(BASE, "ac_src")
    out = os.path.join(BASE, "ac_out")
    os.makedirs(src_dir, exist_ok=True)
    pairs, _ = generate_pairs(120, seed=11)
    for i in range(4):
        pq.write_table(
            pairs.slice(i * 30, 30), os.path.join(src_dir, f"part-{i:03d}.parquet")
        )
    sink = TxLogKeptSink(out, auto_compact_files=3)
    cfg = PipelineConfig(source_path=src_dir, out_dir=out, run_id="ac")
    # one file per trigger => four epochs, each committing its own files
    run_streaming_ingest(spark, cfg, src_dir, max_files_per_trigger=1, sink=sink)
    hist = sink.history(spark)
    opts = [e for e in hist if e["op"] == "optimize"]
    assert opts, "stream never auto-compacted"
    live = sink._state(spark)[0]
    assert len(live) <= 3 + 2  # threshold + at most one uncompacted epoch
    # every kept row exactly once, same as an uncompacted run would hold
    kept = sink.read(spark)
    assert kept.count() == kept.select("image_id").distinct().count()
    assert kept.count() > 0


def test_additive_schema_evolution_widens_reads_and_rewrites(spark):
    """Opt-in merge_schema: a run declaring NEW columns widens the
    table (old rows read NULL there); narrowing/re-typing stay hard
    errors; and the MERGE delete rewrite spanning schema eras keeps
    the wide schema — a footer-inferred read would silently drop the
    new column from the rewritten survivors."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "evo"), merge_schema=True)
    ddl3 = "image_id string, lang string, v int"
    ddl4 = ddl3 + ", score double"
    df3 = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 2)], ddl3
    ).coalesce(1)
    sink.write(df3, "r1")
    # a locked-down sink rejects the widened declaration
    strict = TxLogKeptSink(os.path.join(BASE, "evo"))
    with pytest.raises(SinkSchemaMismatch, match="merge_schema"):
        strict.validate(spark, ddl4)
    sink.validate(spark, ddl4)
    sink.write(spark.createDataFrame([("c", "y", 3, 0.5)], ddl4), "r2")
    got = {r["image_id"]: r for r in sink.read(spark).collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"]["score"] is None and got["c"]["score"] == 0.5
    # time travel into the narrow era stays narrow
    assert "score" not in sink.read(spark, version=1).columns
    # narrowing and re-typing are rejected even with merge_schema on
    with pytest.raises(SinkSchemaMismatch, match="unexpected column"):
        sink.validate(spark, "image_id string, lang string")
    with pytest.raises(SinkSchemaMismatch, match="type mismatch"):
        sink.validate(
            spark, "image_id string, lang string, v string, score double"
        )
    # delete a victim that shares a NARROW file with a survivor
    sink.delete(
        spark, "rdel", spark.createDataFrame([("a",)], "image_id string")
    )
    got2 = {r["image_id"]: r for r in sink.read(spark).collect()}
    assert set(got2) == {"b", "c"}
    assert got2["b"]["score"] is None and got2["c"]["score"] == 0.5
    # the change feed straddles the evolution commit without tearing
    feed = sink.read_changes(spark)
    events = {
        (r["_commit_version"], r["_change_type"], r["image_id"])
        for r in feed.collect()
    }
    assert {(1, "insert", "a"), (1, "insert", "b"), (2, "insert", "c")} <= events
    assert ("delete", "a") in {(c, i) for _, c, i in events}


def test_narrow_write_does_not_shrink_recorded_schema(spark):
    """The recorded schema is the union of every write's fields: a
    write narrower than the table (direct API use, no validate gate)
    must not shrink it — projected reads would drop the wide columns
    from every older row. Re-typing is refused at the write."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "narrow"), merge_schema=True)
    ddl3 = "image_id string, lang string, v int"
    ddl4 = ddl3 + ", score double"
    sink.write(spark.createDataFrame([("a", "x", 1, 0.9)], ddl4), "r1")
    sink.write(spark.createDataFrame([("b", "y", 2)], ddl3), "r2")
    got = {r["image_id"]: r for r in sink.read(spark).collect()}
    assert got["a"]["score"] == 0.9  # survived the narrow write
    assert got["b"]["score"] is None
    with pytest.raises(SinkSchemaMismatch, match="re-types"):
        sink.write(
            spark.createDataFrame(
                [("c", "z", "3")], "image_id string, lang string, v string"
            ),
            "r3",
        )


def test_rollup_maintained_from_change_feed_matches_recompute(spark):
    """The incremental-consumer contract end-to-end: a per-lang count
    rollup folded forward from each commit's feed window equals a full
    recompute of the snapshot at every version — the downstream never
    rescans the table."""
    from gobulk_spark.txlog import apply_changes_to_rollup

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "rollup"))
    _feed_script(spark, sink)
    last = sink.history(spark)[-1]["version"]
    rollup = None
    for v in range(1, last + 1):
        feed = sink.read_changes(spark, from_version=v - 1, to_version=v)
        rollup = apply_changes_to_rollup(rollup, feed, ["lang"])
        expect = sorted(
            (r["lang"], r["n"])
            for r in sink.read(spark, version=v)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        got = sorted((r["lang"], r["n"]) for r in rollup.collect())
        assert got == expect, f"rollup diverged at v{v}"


# -- per-file column stats / data skipping --------------------------------


def _stats_sink(spark, name, rows_per_file=8, files=6):
    """A table whose files hold DISJOINT v-ranges: file i covers
    [i*rows, (i+1)*rows). Written one file per commit so the recorded
    per-file bounds are tight by construction."""
    sink = TxLogKeptSink(os.path.join(BASE, name))
    for i in range(files):
        df = spark.createDataFrame(
            [
                (f"id{i}-{j}", "aa" if j % 2 else "bb", i * rows_per_file + j)
                for j in range(rows_per_file)
            ],
            "image_id string, lang string, v int",
        ).coalesce(1)
        sink.write(df, f"r{i}")
    return sink


def test_commit_records_per_file_stats(spark):
    """Every write commit carries min/max/null-count per (file, stats
    column) — Delta's add.stats — derived from one narrow grouped scan
    of just the landed files."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = _stats_sink(spark, "stats", rows_per_file=4, files=2)
    for e in sink.history(spark):
        assert e["op"] == "write"
        assert set(e["stats"]) == set(e["add"])
        for rel, st in e["stats"].items():
            assert st["rows"] == 4
            # `run` is always stats-collected: rewrite output carries
            # the run range its rows came from, which the retried-run
            # purge probe prunes on (see write())
            assert set(st["cols"]) == {"image_id", "lang", "v", "run"}
            mn, mx, nulls = st["cols"]["v"]
            assert nulls == 0 and mn <= mx
    # the live replay carries stats in slot 3
    live = sink._state(spark)[0]
    assert all(tag[3] and "cols" in tag[3] for tag in live.values())


def test_prune_files_skips_excluded_ranges_and_read_is_exact(spark):
    """File skipping from the log alone: a point predicate over the
    disjoint-range table opens exactly one file; the pruned read equals
    the full-scan filter bit-for-bit regardless of bounds coarseness."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = _stats_sink(spark, "prune", rows_per_file=8, files=6)
    kept, total, _ = sink.prune_files(spark, [("v", "=", 20)])
    assert total == 6 and len(kept) == 1
    kept, _, _ = sink.prune_files(spark, [("v", ">=", 8), ("v", "<", 17)])
    assert len(kept) == 2
    # out-of-range predicate prunes everything; read still returns the
    # correct empty frame with the table schema
    kept, _, _ = sink.prune_files(spark, [("v", ">", 10_000)])
    assert kept == []
    empty = sink.read(spark, predicates=[("v", ">", 10_000)])
    assert empty.count() == 0 and "image_id" in empty.columns
    # exactness: pruned read == full read + row filter
    for preds in ([("v", "=", 20)], [("v", ">=", 8), ("v", "<", 17)]):
        got = sorted(
            r["image_id"]
            for r in sink.read(spark, predicates=preds).collect()
        )
        expr = TxLogKeptSink._predicate_expr(preds)
        want = sorted(
            r["image_id"] for r in sink.read(spark).where(expr).collect()
        )
        assert got == want and got
    with pytest.raises(ValueError):
        sink.prune_files(spark, [("nope", "=", 1)])
    with pytest.raises(ValueError):
        sink.prune_files(spark, [("v", "!=", 1)])


def test_missing_stats_never_prune(spark):
    """Legacy commits (no stats key) must behave as 'bounds unknown':
    every file survives pruning and predicate reads stay exact."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = _stats_sink(spark, "legacy", rows_per_file=4, files=3)
    # strip stats from every log entry, as a pre-stats sink wrote them
    for n in os.listdir(sink.log_dir):
        if not n.endswith(".json"):
            continue
        p = os.path.join(sink.log_dir, n)
        e = json.loads(open(p).read())
        e.pop("stats", None)
        if "live" in e:  # checkpoints pad back to 4 slots on read
            e["live"] = {k: v[:3] for k, v in e["live"].items()}
        open(p, "w").write(json.dumps(e))
        crc = os.path.join(sink.log_dir, f".{n}.crc")
        os.path.exists(crc) and os.remove(crc)
    kept, total, _ = sink.prune_files(spark, [("v", "=", 5)])
    assert total == 3 and len(kept) == 3  # nothing provably skippable
    got = sorted(
        r["image_id"]
        for r in sink.read(spark, predicates=[("v", "=", 5)]).collect()
    )
    assert got == ["id1-1"]


def test_stats_edge_cases_null_nan_long_strings(spark):
    """All-NULL columns prune every comparison; NaN-poisoned float
    bounds are dropped (file always kept); >64-char string maxima are
    re-raised with U+10FFFF so truncated bounds stay sound."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "edge"))
    long_a = "a" * 100
    long_z = "z" * 100
    df = spark.createDataFrame(
        [
            (long_a, None, float("nan")),
            (long_z, None, 1.0),
        ],
        "image_id string, lang string, score double",
    ).coalesce(1)
    sink.write(df, "r1")
    st = sink.history(spark)[-1]["stats"]
    (file_stats,) = st.values()
    # NaN poisoning: no score bounds recorded at all
    assert "score" not in file_stats["cols"]
    mn, mx, nulls = file_stats["cols"]["lang"]
    assert mn is None and mx is None and nulls == 2
    mn, mx, _ = file_stats["cols"]["image_id"]
    assert mn == "a" * 64 and mx == "z" * 64 + "\U0010ffff"
    # all-null column: every comparison provably false -> pruned
    kept, _, _ = sink.prune_files(spark, [("lang", "=", "aa")])
    assert kept == []
    # NaN column: bounds unknown -> never pruned
    kept, _, _ = sink.prune_files(spark, [("score", ">", 100.0)])
    assert len(kept) == 1
    # the truncated max is still an upper bound: equality on the real
    # 100-char value must keep the file
    kept, _, _ = sink.prune_files(spark, [("image_id", "=", long_z)])
    assert len(kept) == 1
    got = sink.read(spark, predicates=[("image_id", "=", long_z)]).collect()
    assert [r["image_id"] for r in got] == [long_z]
    # ...and a value past the padded max prunes
    kept, _, _ = sink.prune_files(
        spark, [("image_id", ">", "z" * 64 + "\U0010ffff")]
    )
    assert kept == []


def test_optimize_cluster_by_tightens_bounds_to_one_file(spark):
    """Value-interleaved ingest defeats skipping (every file spans the
    whole range); OPTIMIZE cluster_by re-sorts the table into disjoint
    slices so the SAME point predicate drops from all-files to one.
    Content-preserving; time travel still sees the old layout."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "zorder"))
    # 4 commits, each covering the full 0..99 range (worst case layout)
    for i in range(4):
        df = spark.createDataFrame(
            [(f"id{i}-{j}", "x", j) for j in range(0, 100, 4)],
            "image_id string, lang string, v int",
        ).coalesce(1)
        sink.write(df, f"r{i}")
    kept, total, _ = sink.prune_files(spark, [("v", "=", 48)])
    assert total == 4 and len(kept) == 4  # interleaved: nothing skips
    before = _kept_frame(sink, spark)
    # force multiple output files so disjointness is observable
    n = sink.optimize(spark, target_file_bytes=1500, cluster_by=["v"])
    assert n == 4
    live = sink._state(spark)[0]
    assert len(live) > 1
    # disjoint ranges: each file's [min,max] windows must not overlap
    bounds = sorted(tag[3]["cols"]["v"][:2] for tag in live.values())
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, f"overlapping cluster ranges {bounds}"
    kept, total, _ = sink.prune_files(spark, [("v", "=", 48)])
    assert total == len(live) and len(kept) == 1
    pd.testing.assert_frame_equal(before, _kept_frame(sink, spark))
    got = sorted(
        r["image_id"]
        for r in sink.read(spark, predicates=[("v", "=", 48)]).collect()
    )
    assert got == ["id0-48", "id1-48", "id2-48", "id3-48"]
    with pytest.raises(ValueError):
        sink.optimize(spark, cluster_by=["nope"])


# -- per-file bloom filters (point-lookup skipping) ------------------------


def _bloom_sink(spark, name, files=6, rows_per_file=40):
    """The layout where min/max is USELESS: every file's v-range AND
    image_id-range span the whole space (round-robin interleave on v,
    shared id prefix with the file discriminator LAST) — only a bloom
    can prune a point lookup here."""
    sink = TxLogKeptSink(
        os.path.join(BASE, name), bloom_columns=["image_id", "v"]
    )
    for i in range(files):
        df = spark.createDataFrame(
            [
                (f"im-{j:04d}-{i}", "aa", j * files + i)
                for j in range(rows_per_file)
            ],
            "image_id string, lang string, v int",
        ).coalesce(1)
        sink.write(df, f"r{i}")
    return sink


def test_bloom_prunes_point_lookups_where_minmax_cannot(spark):
    """String and int point lookups open ~1 file on an interleaved
    table where bounds keep all of them; present values are NEVER
    false-negatives; absent in-range values prune everything (at ~1%
    FPP); range predicates don't consult blooms."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = _bloom_sink(spark, "bloom")
    fields = {"v": "int", "image_id": "string"}
    live = sink._state(spark)[0]
    assert all("bloom" in tag[3] for tag in live.values())
    # sanity: min/max bounds alone keep every file for both probes
    for pred in ([("v", "=", 93)], [("image_id", "=", "im-0021-4")]):
        assert all(
            TxLogKeptSink._file_matches(tag[3], pred, fields)
            for tag in live.values()
        )
    # int point lookup: v=93 lives only in file 93 % 6 = 3
    kept, total, _ = sink.prune_files(spark, [("v", "=", 93)])
    assert total == 6 and 1 <= len(kept) <= 2, kept
    got = sink.read(spark, predicates=[("v", "=", 93)]).collect()
    assert [r["image_id"] for r in got] == ["im-0015-3"]
    # string point lookup: id exists only in file 4
    kept, _, _ = sink.prune_files(spark, [("image_id", "=", "im-0021-4")])
    assert 1 <= len(kept) <= 2, kept
    got = sink.read(
        spark, predicates=[("image_id", "=", "im-0021-4")]
    ).collect()
    assert [(r["image_id"], r["v"]) for r in got] == [("im-0021-4", 130)]
    # no false negatives: EVERY present id keeps its file
    for i in range(6):
        kept, _, _ = sink.prune_files(
            spark, [("image_id", "=", f"im-0000-{i}")]
        )
        assert kept, f"false negative for file {i}"
    # absent but IN-BOUNDS values: bloom excludes all files (FPP slack 1)
    kept, _, _ = sink.prune_files(spark, [("image_id", "=", "im-0021-9")])
    assert len(kept) <= 1, kept
    empty = sink.read(spark, predicates=[("image_id", "=", "im-0021-9")])
    assert empty.count() == 0
    # range predicates never consult blooms: bounds keep everything
    kept, _, _ = sink.prune_files(spark, [("v", ">=", 0)])
    assert len(kept) == 6


def test_bloom_sidecar_missing_declines_to_skip(spark):
    """A vanished sidecar degrades to 'bounds unknown': nothing is
    bloom-pruned, reads stay exact — same conservative contract as
    missing min/max stats."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = _bloom_sink(spark, "bloomless", files=3, rows_per_file=10)
    shutil.rmtree(os.path.join(sink.log_dir, "blooms"))
    sink._bloom_cache.clear()
    # v=13 is present only in file 1, but every file's bounds cover it
    kept, total, _ = sink.prune_files(spark, [("v", "=", 13)])
    assert total == 3 and len(kept) == 3
    got = sink.read(spark, predicates=[("v", "=", 13)]).collect()
    assert [r["image_id"] for r in got] == ["im-0004-1"]


def test_bloom_survives_optimize_and_time_travel(spark):
    """OPTIMIZE's rewritten files get fresh blooms (same commit-side
    stats pass); the pre-optimize version still reads exactly through
    its own retained sidecars."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = _bloom_sink(spark, "bloomopt", files=4, rows_per_file=30)
    v_before = sink.history(spark)[-1]["version"]
    n = sink.optimize(spark, target_file_bytes=64_000)
    assert n == 4
    live = sink._state(spark)[0]
    assert all("bloom" in tag[3] for tag in live.values())
    got = sink.read(
        spark, predicates=[("image_id", "=", "im-0011-2")]
    ).collect()
    assert [r["v"] for r in got] == [11 * 4 + 2]
    old = sink.read(
        spark, version=v_before, predicates=[("image_id", "=", "im-0011-2")]
    ).collect()
    assert [r["v"] for r in old] == [11 * 4 + 2]


# -- MERGE upsert ----------------------------------------------------------


def test_merge_upserts_in_one_commit(spark):
    """Matched keys are replaced (whichever run wrote them), unmatched
    update rows append, and the whole upsert is ONE remove+add commit —
    no intermediate version ever shows the deleted half alone. Time
    travel still sees the pre-merge table; duplicate source keys are
    refused."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "merge"))
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", 2)],
            "image_id string, lang string, v int",
        ),
        "r1",
    )
    sink.write(
        spark.createDataFrame(
            [("c", "y", 3)], "image_id string, lang string, v int"
        ),
        "r2",
    )
    v_before = sink.history(spark)[-1]["version"]
    updates = spark.createDataFrame(
        [("b", "x", 20), ("c", "y", 30), ("d", "z", 40)],
        "image_id string, lang string, v int",
    )
    sink.merge(spark, "m1", updates)
    hist = sink.history(spark)
    assert len(hist) == 3 and hist[-1]["op"] == "merge"
    # both source files held a matched key -> both rewritten
    assert len(hist[-1]["remove"]) == 2
    got = {
        (r["image_id"], r["v"], r["run"])
        for r in sink.read(spark).collect()
    }
    assert got == {
        ("a", 1, "r1"),
        ("b", 20, "m1"),
        ("c", 30, "m1"),
        ("d", 40, "m1"),
    }
    old = {
        (r["image_id"], r["v"]) for r in sink.read(spark, version=v_before).collect()
    }
    assert old == {("a", 1), ("b", 2), ("c", 3)}
    with pytest.raises(ValueError, match="duplicate"):
        sink.merge(
            spark,
            "m2",
            spark.createDataFrame(
                [("e", "x", 1), ("e", "x", 2)],
                "image_id string, lang string, v int",
            ),
        )


def test_merge_change_feed_is_exact_even_for_identical_rows(spark):
    """The feed across a merge emits matched pre-images as deletes and
    update rows as inserts — including when an update row is BYTE-
    IDENTICAL to the row it replaces (same run stamp), the case where
    subtracting the update files from the removes would silently cancel
    the pair and drift the multiset reconstruction."""
    from collections import Counter

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "mergefeed"))
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", 2)],
            "image_id string, lang string, v int",
        ),
        "r1",
    )
    # identical-row upsert: (a, x, 1) re-merged under the SAME run id
    sink.merge(
        spark,
        "r1",
        spark.createDataFrame(
            [("a", "x", 1), ("e", "x", 5)],
            "image_id string, lang string, v int",
        ),
    )
    feed = sink.read_changes(spark, from_version=1)
    changes = [
        (r["_change_type"], r["image_id"], r["v"]) for r in feed.collect()
    ]
    assert sorted(changes) == [
        ("delete", "a", 1),
        ("insert", "a", 1),
        ("insert", "e", 5),
    ]
    # multiset reconstruction from v0 reaches the live table exactly
    state = Counter()
    full = sink.read_changes(spark, from_version=0)
    for r in full.collect():
        k = (r["image_id"], r["v"], r["run"])
        state[k] += 1 if r["_change_type"] == "insert" else -1
    live = Counter(
        (r["image_id"], r["v"], r["run"]) for r in sink.read(spark).collect()
    )
    assert Counter({k: n for k, n in state.items() if n}) == live


def test_merge_retries_on_stale_snapshot(spark):
    """A merge whose snapshot went stale re-derives: the rival's row is
    preserved and the upsert still lands atomically."""
    from gobulk_spark import txlog as txmod

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "mergestale"))
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1)], "image_id string, lang string, v int"
        ),
        "r1",
    )
    real_commit = TxLogKeptSink._commit
    raced = {"done": False}

    def racing_commit(self, spark_, entry, base_version=None):
        if entry["op"] == "merge" and not raced["done"]:
            raced["done"] = True
            TxLogKeptSink(self.out_dir).write(
                spark_.createDataFrame(
                    [("z", "x", 9)], "image_id string, lang string, v int"
                ),
                "rival",
            )
        return real_commit(self, spark_, entry, base_version)

    txmod.TxLogKeptSink._commit = racing_commit
    try:
        sink.merge(
            spark,
            "m1",
            spark.createDataFrame(
                [("a", "x", 10)], "image_id string, lang string, v int"
            ),
        )
    finally:
        txmod.TxLogKeptSink._commit = real_commit
    assert raced["done"]
    got = {(r["image_id"], r["v"]) for r in sink.read(spark).collect()}
    assert got == {("a", 10), ("z", 9)}


# -- vacuum retention window / clustered ingest ----------------------------


def test_vacuum_retain_last_keeps_window_versions_readable(spark):
    """vacuum(retain_last=k) reclaims only files dead in ALL of the
    last k+1 versions: the retained window still time-travels exactly,
    older versions end where the reclaimed files begin."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "vacret"))
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", 2)],
            "image_id string, lang string, v int",
        ),
        "r1",
    )
    sink.delete(
        spark, "r2", spark.createDataFrame([("a",)], "image_id string")
    )
    sink.write(
        spark.createDataFrame(
            [("c", "y", 3)], "image_id string, lang string, v int"
        ),
        "r2b",
    )
    # full-history window: nothing reclaimable
    assert sink.vacuum(spark, retain_last=2) == 0
    assert {r["image_id"] for r in sink.read(spark, version=1).collect()} == {
        "a",
        "b",
    }
    # window of 2 versions: v1's superseded file goes, v2 stays exact
    assert sink.vacuum(spark, retain_last=1) == 1
    assert {r["image_id"] for r in sink.read(spark, version=2).collect()} == {
        "b"
    }
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"b", "c"}


def test_write_cluster_by_prunes_fresh_ingest_without_optimize(spark):
    """Clustered ingest: one unsorted 100-row write lands as
    range-disjoint files, so a point predicate prunes to ONE file on
    the very first commit — no OPTIMIZE pass needed."""
    import random

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(
        os.path.join(BASE, "clusterw"),
        write_cluster_by=["v"],
        write_cluster_files=4,
    )
    rows = [(f"id{j}", "x", j) for j in range(100)]
    random.Random(5).shuffle(rows)
    sink.write(
        spark.createDataFrame(rows, "image_id string, lang string, v int"),
        "r1",
    )
    live = sink._state(spark)[0]
    assert len(live) == 4
    bounds = sorted(tag[3]["cols"]["v"][:2] for tag in live.values())
    for (_, hi1), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, f"overlapping fresh-ingest ranges {bounds}"
    kept, total, _ = sink.prune_files(spark, [("v", "=", 48)])
    assert total == 4 and len(kept) == 1
    got = sink.read(spark, predicates=[("v", "=", 48)]).collect()
    assert [r["image_id"] for r in got] == ["id48"]
    with pytest.raises(ValueError, match="write_cluster_by"):
        TxLogKeptSink(
            os.path.join(BASE, "clusterw2"), write_cluster_by=["nope"]
        ).write(
            spark.createDataFrame(
                [("a", "x", 1)], "image_id string, lang string, v int"
            ),
            "r1",
        )


def test_optimize_zorder_prunes_on_every_listed_column(spark):
    """TRUE multi-dim clustering: after ZORDER over (x, y), each output
    file covers a compact 2-D tile, so min/max bounds prune BOTH a
    rectangle query and a y-only query — lexicographic cluster_by [x,y]
    gives y no pruning power once x varies. Content-preserving."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "zord"))
    rows = [(f"id{i}", i % 64, i // 64) for i in range(4096)]
    sink.write(
        spark.createDataFrame(rows, "image_id string, x int, y int").coalesce(2),
        "r1",
    )
    before = _kept_frame(sink, spark)
    n = sink.optimize(
        spark, target_file_bytes=1500, zorder_by=["x", "y"], zorder_bits=8
    )
    assert n == 2
    live = sink._state(spark)[0]
    total = len(live)
    assert total >= 8, f"expected a multi-file layout, got {total}"
    # rectangle query: both dimensions prune together
    kept, _, _ = sink.prune_files(
        spark, [("x", ">=", 0), ("x", "<", 16), ("y", ">=", 0), ("y", "<", 16)]
    )
    assert len(kept) <= max(2, total // 4), (len(kept), total)
    # y-ONLY predicate prunes too (the dimension lexicographic
    # clustering on [x, y] would never prune)
    kept_y, _, _ = sink.prune_files(spark, [("y", "<", 8)])
    assert len(kept_y) <= total // 2, (len(kept_y), total)
    # exactness: pruned read == full filter
    got = sorted(
        r["image_id"]
        for r in sink.read(
            spark, predicates=[("x", "<", 4), ("y", "<", 4)]
        ).collect()
    )
    want = sorted(f"id{yy * 64 + xx}" for xx in range(4) for yy in range(4))
    assert got == want
    pd.testing.assert_frame_equal(before, _kept_frame(sink, spark))
    with pytest.raises(ValueError, match="exclusive"):
        sink.optimize(spark, cluster_by=["x"], zorder_by=["y"])
    with pytest.raises(ValueError, match="non-numeric"):
        sink.optimize(spark, zorder_by=["image_id"])


def test_point_delete_and_merge_scan_only_candidate_files(spark):
    """Dynamic file pruning: a small victim/update key set probes the
    log's stats + blooms and the discovery semi-join opens only the
    candidate files — on a table whose id bounds span every file, the
    blooms are what bound the scan."""
    from gobulk_spark import txlog as txmod

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(
        os.path.join(BASE, "dfp"),
        write_cluster_by=["v"],
        write_cluster_files=4,
        bloom_columns=["image_id"],
    )
    # ids are a scattered permutation of the v order, so every file's
    # [min,max] id bounds cover the whole id space: only blooms prune
    rows = [(f"im-{(j * 7) % 400:04d}", "x", j) for j in range(400)]
    sink.write(
        spark.createDataFrame(rows, "image_id string, lang string, v int"),
        "r1",
    )
    total = len(sink._state(spark)[0])
    assert total == 4
    reads: list[list[str]] = []
    orig = TxLogKeptSink._read_files

    def spy(self, spark_, rels, schema_ddl=None):
        reads.append(sorted(rels))
        return orig(self, spark_, rels, schema_ddl)

    txmod.TxLogKeptSink._read_files = spy
    try:
        sink.delete(
            spark,
            "d1",
            spark.createDataFrame([("im-0007",)], "image_id string"),
        )
        discovery_delete = reads[0]
        reads.clear()
        sink.merge(
            spark,
            "m1",
            spark.createDataFrame(
                [("im-0014", "x", -1)], "image_id string, lang string, v int"
            ),
        )
        discovery_merge = reads[0]
    finally:
        txmod.TxLogKeptSink._read_files = orig
    assert len(discovery_delete) <= 2, discovery_delete
    assert len(discovery_merge) <= 2, discovery_merge
    got = {r["image_id"]: r["v"] for r in sink.read(spark).collect()}
    assert "im-0007" not in got and got["im-0014"] == -1
    assert len(got) == 399


def test_bloom_exact_for_nullable_bigint_past_2_53(spark):
    """A NULLABLE bigint bloom column (phash-shaped, magnitudes past
    2^53) must never yield false negatives: the arrow->pandas boundary
    inside the executor build upcasts a null-bearing int64 column to
    float64, so hashing the ROUNDED values would build a bloom the
    exact-int probe misses — silent row loss on read, and delete/merge
    victims left alive. Ints therefore hash by their decimal-string
    form on both sides."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(
        os.path.join(BASE, "bigbloom"), bloom_columns=["phash"]
    )
    big = (1 << 60) + 1  # float64 spacing at 2^60 is 256: +1 rounds away
    rows = [("a", "x", big), ("b", "x", None), ("c", "x", big + 2)]
    sink.write(
        spark.createDataFrame(
            rows, "image_id string, lang string, phash bigint"
        ).coalesce(1),
        "r1",
    )
    # present key, in min/max bounds: only a bloom false-negative could
    # drop the file — with lossy hashing it DID
    kept, total, _ = sink.prune_files(spark, [("phash", "=", big)])
    assert total == 1 and len(kept) == 1, kept
    got = sink.read(spark, predicates=[("phash", "=", big)]).collect()
    assert [r["image_id"] for r in got] == ["a"]
    # the float64-rounded sibling (big+2 also rounds to 2^60) keeps
    # its own exact entry: both present keys probe positive
    kept2, _, _ = sink.prune_files(spark, [("phash", "=", big + 2)])
    assert len(kept2) == 1


def test_null_keys_and_null_predicates_are_safe(spark):
    """NULL keys in a delete set are ignored (they never equi-join);
    a NULL predicate literal prunes everything instead of crashing the
    stats comparison (SQL: `col = NULL` matches no row)."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(
        os.path.join(BASE, "nullkeys"), bloom_columns=["image_id"]
    )
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", 2), ("c", "x", 3)],
            "image_id string, lang string, v int",
        ).coalesce(1),
        "r1",
    )
    sink.delete(
        spark,
        "d1",
        spark.createDataFrame([("a",), (None,)], "image_id string"),
    )
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"b", "c"}
    assert sink.read(spark, predicates=[("image_id", "=", None)]).count() == 0
    kept, _, _ = sink.prune_files(spark, [("v", "=", None)])
    assert kept == []


def test_maintenance_commit_carries_forward_settings(spark):
    """A default-constructed maintenance sink (the CLI --optimize /
    --vacuum path) must not stamp empty settings over a
    settings-carrying store: the writer's next validate reads the LAST
    entry's settings and would reject its own store."""
    shutil.rmtree(BASE, ignore_errors=True)
    writer = TxLogKeptSink(
        os.path.join(BASE, "settings"), settings={"replicas": 1}
    )
    writer.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", 2)], "image_id string, lang string, v int"
        ).coalesce(1),
        "r1",
    )
    maint = TxLogKeptSink(os.path.join(BASE, "settings"))
    maint.optimize(spark)
    # the optimize commit carried the recorded settings forward...
    fs = maint._fs(spark)
    import json as _json

    last = _json.loads(
        fs.read_text(lineage._join(maint.log_dir, maint._entry_names(fs)[-1]))
    )
    assert last["settings"] == {"replicas": 1}
    # ...so the original writer still validates and writes
    writer.validate(spark, "image_id string, lang string, v int")
    writer.write(
        spark.createDataFrame(
            [("c", "x", 3)], "image_id string, lang string, v int"
        ).coalesce(1),
        "r2",
    )
    assert {r["image_id"] for r in writer.read(spark).collect()} == {
        "a",
        "b",
        "c",
    }


def test_fresh_run_write_after_optimize_reads_no_files(spark):
    """The retried-run purge probe is metadata-first (DFP on the
    always-stats-collected `run` column): after OPTIMIZE retags every
    live file, a never-seen run_id must prune to ZERO files driver-side
    — without that, every post-compaction write pays a full-table scan.
    A genuinely retried run still finds its rows inside the compaction
    output and purges them (no duplicates)."""
    from gobulk_spark import txlog as txmod

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "purgeprobe"))
    ddl = "image_id string, lang string, v int"
    for i, rid in enumerate(["r1", "r2"]):
        sink.write(
            spark.createDataFrame(
                [(f"{rid}-{j}", "x", i * 10 + j) for j in range(3)], ddl
            ).coalesce(1),
            rid,
        )
    sink.optimize(spark)
    live = sink._state(spark)[0]
    assert all(tag[0] == "optimize" for tag in live.values())
    reads: list[list[str]] = []
    orig = TxLogKeptSink._read_files

    def spy(self, spark_, rels, schema_ddl=None):
        reads.append(sorted(rels))
        return orig(self, spark_, rels, schema_ddl)

    txmod.TxLogKeptSink._read_files = spy
    try:
        sink.write(
            spark.createDataFrame([("r3-0", "x", 30)], ddl).coalesce(1),
            "r3",
        )
        fresh_reads = list(reads)
        reads.clear()
        # retry of committed r1: its rows live in the optimize output
        sink.write(
            spark.createDataFrame([("r1-0", "x", 99)], ddl).coalesce(1),
            "r1",
        )
        retry_reads = list(reads)
    finally:
        txmod.TxLogKeptSink._read_files = orig
    # stats collection reads the run's OWN landing dir; the purge
    # probe must not have opened any pre-existing (optimize) file
    assert all(
        r.startswith("data/run-r3") for call in fresh_reads for r in call
    ), fresh_reads
    assert any(
        not r.startswith("data/run-r1") for call in retry_reads for r in call
    ), "retried run must probe the compaction output"
    got = {r["image_id"]: r["v"] for r in sink.read(spark).collect()}
    # r1's retry REPLACED its three old rows with the one new row
    assert got == {
        "r1-0": 99,
        "r2-0": 10,
        "r2-1": 11,
        "r2-2": 12,
        "r3-0": 30,
    }, got


def test_stream_conflicting_id_batch_does_not_wedge_merge_sink(spark):
    """Poison-pill regression (round-5 review): one microbatch carrying
    the SAME image_id with two DIFFERENT contents used to make
    sink.merge raise on the duplicate key — the epoch failed and the
    checkpoint re-delivered the identical batch forever. Now the
    max-hash sibling lands, the loser is an audit issue, and the
    stream completes."""
    import hashlib

    from gobulk_spark.corpus import generate_pairs
    from gobulk_spark.streaming.incremental import run_streaming_ingest

    shutil.rmtree(BASE, ignore_errors=True)
    src_dir = os.path.join(BASE, "conflict_src")
    out = os.path.join(BASE, "conflict_out")
    os.makedirs(src_dir)
    pairs, _ = generate_pairs(80, seed=35)
    pq.write_table(pairs, os.path.join(src_dir, "part-000.parquet"))
    sink = TxLogKeptSink(out)
    cfg = PipelineConfig(source_path=src_dir, out_dir=out, run_id="s1")
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    audit1 = lineage.read_audit(spark, out).toPandas()
    created = audit1.loc[audit1.action == "create", "image_id"].tolist()
    assert len(created) >= 3
    tbl = pairs.to_pydict()
    row_of = {tbl["image_id"][i]: i for i in range(len(tbl["image_id"]))}
    x, d1, d2 = created[0], created[1], created[2]
    xi = row_of[x]

    def clone(donor):
        """id X with DONOR's image content (same caption, so the rule
        decision is X's own; different bytes, so the hash differs)."""
        di = row_of[donor]
        return {
            "image_id": x,
            "bytes": tbl["bytes"][di],
            "w": tbl["w"][di],
            "h": tbl["h"][di],
            "fmt": tbl["fmt"][di],
            "caption": tbl["caption"][xi],
            "phash": tbl["phash"][di],
        }

    import pyarrow as pa

    conflict = pa.Table.from_pylist(
        [clone(d1), clone(d2)], schema=pairs.schema
    )
    pq.write_table(conflict, os.path.join(src_dir, "part-001.parquet"))
    # the regression: this drain used to raise ValueError from merge
    run_streaming_ingest(spark, cfg, src_dir, sink=sink)
    store = {
        r["image_id"]: r for r in sink.read(spark).collect()
    }
    # exactly ONE row for x in the store
    assert x in store
    # the winner is the max-content_hash sibling
    def chash(donor):
        c = clone(donor)
        return hashlib.sha256(
            c["bytes"] + b"\x00" + c["caption"].encode()
        ).hexdigest()

    win = d1 if chash(d1) > chash(d2) else d2
    assert store[x]["content_hash"] == chash(win)
    # the loser rode to the audit as a conflict issue
    audit2 = lineage.read_audit(spark, out).toPandas()
    conflicts = audit2[
        (audit2.image_id == x)
        & (audit2.action == "issue")
    ]
    assert len(conflicts) == 1


# -- predicate delete (DELETE WHERE) ---------------------------------------


def test_delete_where_metadata_only_fast_path(spark):
    """Delta DELETE WHERE, two-tier: a file whose stats PROVE every row
    matches is dropped without ever being READ (the whole-partition
    drop at scale); a straddling file is rewritten without its matching
    rows; out-of-range files are never opened. Time travel and the
    change feed see the removal exactly."""
    from gobulk_spark import txlog as txmod

    shutil.rmtree(BASE, ignore_errors=True)
    sink = _stats_sink(spark, "delwhere", rows_per_file=8, files=4)
    pre = sink.history(spark)[-1]["version"]
    live_before = sink._state(spark)[0]
    assert len(live_before) == 4
    file0 = next(p for p, t in live_before.items() if t[3]["cols"]["v"][0] == 0)
    reads: list[list[str]] = []
    orig = TxLogKeptSink._read_files

    def spy(self, spark_, rels, schema_ddl=None):
        reads.append(sorted(rels))
        return orig(self, spark_, rels, schema_ddl)

    txmod.TxLogKeptSink._read_files = spy
    try:
        res = sink.delete_where(spark, "dw1", [("v", "<", 12)])
    finally:
        txmod.TxLogKeptSink._read_files = orig
    assert res["dropped_files"] == 1 and res["rewritten_files"] == 1, res
    # the whole-drop file was never opened
    assert all(file0 not in call for call in reads), (file0, reads)
    got = sorted(r["v"] for r in sink.read(spark).collect())
    assert got == list(range(12, 32))
    # time travel to the pre-delete snapshot still sees all rows
    assert sink.read(spark, version=pre).count() == 32
    # the commit records WHY files left
    assert sink.history(spark)[-1]["predicate"] == [["v", "<", 12]]
    # change feed: exactly the 12 victims, as deletes
    feed = sink.read_changes(spark, from_version=pre)
    dels = feed.where(F.col("_change_type") == "delete")
    assert sorted(r["v"] for r in dels.collect()) == list(range(12))


def test_delete_where_null_rows_survive_and_no_match_is_noop(spark):
    """SQL DELETE semantics: a NULL predicate never deletes, so
    null-valued rows survive (and their file cannot whole-drop); a
    predicate matching nothing commits nothing."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "delnull"))
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", None), ("c", "x", 2)],
            "image_id string, lang string, v int",
        ).coalesce(1),
        "r1",
    )
    v1 = sink.history(spark)[-1]["version"]
    res = sink.delete_where(spark, "dw1", [("v", ">", 0)])
    assert res["dropped_files"] == 0 and res["rewritten_files"] == 1
    left = {r["image_id"]: r["v"] for r in sink.read(spark).collect()}
    assert left == {"b": None}
    # nothing matches: no commit at all
    res2 = sink.delete_where(spark, "dw2", [("v", "=", 999)])
    assert res2["version"] is None
    assert sink.history(spark)[-1]["version"] == res["version"]
    assert sink.read(spark, version=v1).count() == 3


def _rollup_dict(df):
    return {} if df is None else {r[0]: r["n"] for r in df.collect()}


def _live_dict(sink, spark, key="lang"):
    df = sink.read(spark)
    if df is None:
        return {}
    return {r[0]: r["count"] for r in df.groupBy(key).count().collect()}


def test_change_feed_consumer_checkpointed_sweeps(spark):
    """Materialized-view maintenance: a CHECKPOINTED consumer follows
    the store through writes, merges, predicate deletes, a restore and
    an optimize — each sweep reads only its commit window, publishes
    rollup+cursor atomically, and always equals a full recompute of the
    live table. Idle and optimize-only windows advance the cursor
    without republishing."""
    from gobulk_spark.txlog import ChangeFeedConsumer

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "feedc"))
    consumer = ChangeFeedConsumer(
        sink, os.path.join(BASE, "feedc_state"), ["lang"]
    )
    ddl = "image_id string, lang string, v int"
    # idle sweep on an empty store: nothing to do
    assert consumer.sweep(spark) == {"from": 0, "to": 0, "published": False}
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", 2), ("c", "y", 3)], ddl
        ).coalesce(1),
        "r1",
    )
    sink.write(spark.createDataFrame([("d", "y", 4)], ddl), "r2")
    # one sweep over a MULTI-commit window
    res = consumer.sweep(spark)
    assert res == {"from": 0, "to": 2, "published": True}
    assert _rollup_dict(consumer.rollup(spark)) == {"x": 2, "y": 2}
    # idle sweep: cursor already current
    assert consumer.sweep(spark)["published"] is False
    # follow a merge, a predicate delete, and a restore, sweeping each
    sink.merge(spark, "m1", spark.createDataFrame([("a", "z", 9), ("e", "z", 5)], ddl))
    consumer.sweep(spark)
    assert _rollup_dict(consumer.rollup(spark)) == _live_dict(sink, spark)
    sink.delete_where(spark, "dw", [("lang", "=", "y")])
    consumer.sweep(spark)
    assert _rollup_dict(consumer.rollup(spark)) == _live_dict(sink, spark)
    rolled = sink.restore(spark, "roll", 3)  # back to post-merge state
    assert rolled is not None
    consumer.sweep(spark)
    assert _rollup_dict(consumer.rollup(spark)) == _live_dict(sink, spark)
    # optimize-only window: no row-level change, cursor advances anyway
    assert sink.optimize(spark, target_file_bytes=1 << 30) > 0
    res = consumer.sweep(spark)
    assert res["published"] is False and res["to"] > res["from"]
    assert consumer.sweep(spark)["published"] is False  # and stays idle
    assert _rollup_dict(consumer.rollup(spark)) == _live_dict(sink, spark)
    # a SECOND consumer catching up in one sweep lands on the same view
    other = ChangeFeedConsumer(
        sink, os.path.join(BASE, "feedc_state2"), ["lang"]
    )
    other.sweep(spark)
    assert _rollup_dict(other.rollup(spark)) == _rollup_dict(
        consumer.rollup(spark)
    )
    # a rollup() frame handed out BEFORE a sweep survives that sweep
    # (pruning keeps the previous publication), and pruning bounds the
    # state dirs at current + predecessor
    held = consumer.rollup(spark)
    pre = _rollup_dict(held)
    sink.write(spark.createDataFrame([("f", "w", 6)], ddl), "r9")
    assert consumer.sweep(spark)["published"] is True
    assert _rollup_dict(held) == pre  # still readable, still pre-sweep
    dirs = [
        d
        for d in os.listdir(os.path.join(BASE, "feedc_state"))
        if d.startswith("state-")
    ]
    assert 1 <= len(dirs) <= 2


def test_change_feed_consumer_crash_before_flip_refolds_same_window(spark):
    """Exactly-once per commit window: a crash AFTER the new state dir
    lands but BEFORE the pointer flips leaves the cursor on the old
    base, so the retry re-folds the SAME window onto the SAME base —
    no double-apply, no gap."""
    from gobulk_spark import fsutil
    from gobulk_spark.txlog import ChangeFeedConsumer

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "feedcrash"))
    state_dir = os.path.join(BASE, "feedcrash_state")
    consumer = ChangeFeedConsumer(sink, state_dir, ["lang"])
    ddl = "image_id string, lang string, v int"
    sink.write(spark.createDataFrame([("a", "x", 1)], ddl), "r1")
    consumer.sweep(spark)
    sink.write(spark.createDataFrame([("b", "y", 2)], ddl), "r2")
    orig = fsutil.Fs.write_text_atomic

    def crash(self, path, text):
        if path.endswith("_current.json"):
            raise OSError("simulated crash before pointer flip")
        return orig(self, path, text)

    fsutil.Fs.write_text_atomic = crash
    try:
        with pytest.raises(OSError, match="simulated crash"):
            consumer.sweep(spark)
    finally:
        fsutil.Fs.write_text_atomic = orig
    # pointer still on the old window; the orphan state dir is inert
    assert _rollup_dict(consumer.rollup(spark)) == {"x": 1}
    res = consumer.sweep(spark)  # retry re-folds (1, 2] onto v1's base
    assert res["published"] is True
    assert _rollup_dict(consumer.rollup(spark)) == {"x": 1, "y": 1}
    dirs = [d for d in os.listdir(state_dir) if d.startswith("state-")]
    assert 1 <= len(dirs) <= 2  # current publication + predecessor


def test_delete_where_coerces_literal_to_column_type(spark):
    """The CLI auto-types literals by spelling, so 'image_id=42'
    arrives as int 42 against a string column — the schema is the
    authority: the literal coerces and the delete lands instead of a
    TypeError inside the driver-side stats comparison. An uncoercible
    literal fails with a clear error, not a crash."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "coerce"))
    sink.write(
        spark.createDataFrame(
            [("41", "x", 1), ("42", "x", 2)],
            "image_id string, lang string, v int",
        ).coalesce(1),
        "r1",
    )
    res = sink.delete_where(spark, "dw1", [("image_id", "=", 42)])
    assert res["version"] is not None
    assert {r["image_id"] for r in sink.read(spark).collect()} == {"41"}
    # string literal against an int column coerces the other way
    with pytest.raises(ValueError, match="does not coerce"):
        sink.delete_where(spark, "dw3", [("v", "=", "abc")])
    res2 = sink.delete_where(spark, "dw2", [("v", "=", "1")])
    assert res2["version"] is not None
    df = sink.read(spark)
    assert df is None or df.count() == 0  # table emptied (None = no live files)


def test_delete_where_rewrites_only_files_with_actual_victims(spark):
    """Stats straddling is not containment: of two files whose
    [min,max] both cover a point predicate, only the one holding a
    matching row is rewritten (the same touched-file probe delete()
    and merge() use); a predicate every file straddles but none
    contains commits nothing."""
    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(os.path.join(BASE, "refine"))
    ddl = "image_id string, lang string, v int"
    sink.write(
        spark.createDataFrame([("a", "x", 10), ("b", "x", 30)], ddl).coalesce(1),
        "r1",
    )  # file A: v in {10,30}
    sink.write(
        spark.createDataFrame([("c", "x", 15), ("d", "x", 25)], ddl).coalesce(1),
        "r2",
    )  # file B: v in {15,25}
    # both files straddle 20; neither contains it -> no commit at all
    res = sink.delete_where(spark, "dw0", [("v", "=", 20)])
    assert res == {"dropped_files": 0, "rewritten_files": 0, "version": None}
    # both straddle 25; only file B holds it -> ONE rewrite, A untouched
    res = sink.delete_where(spark, "dw1", [("v", "=", 25)])
    assert res["dropped_files"] == 0 and res["rewritten_files"] == 1
    assert sorted(r["v"] for r in sink.read(spark).collect()) == [10, 15, 30]


# -- CHECK constraints ------------------------------------------------------


def test_check_constraints_enforced_at_write_and_merge(spark):
    """Delta-parity CHECK constraints ride the landing job as an
    Observation (no extra pass): a violating write/merge raises BEFORE
    the log commit — readers never see the rows, no files leak into the
    live set — while NULL rows pass (SQL CHECK semantics: only FALSE
    violates)."""
    from gobulk_spark.txlog import ConstraintViolation

    shutil.rmtree(BASE, ignore_errors=True)
    sink = TxLogKeptSink(
        os.path.join(BASE, "check"),
        constraints={"v_positive": "v > 0", "id_nonnull": "image_id IS NOT NULL"},
    )
    ddl = "image_id string, lang string, v int"
    # NULL v passes (CHECK is violated only by FALSE)
    sink.write(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "x", None)], ddl
        ).coalesce(1),
        "r1",
    )
    assert sink.read(spark).count() == 2
    v1 = sink.history(spark)[-1]["version"]
    assert sink.history(spark)[-1]["constraints"] == {
        "v_positive": "v > 0",
        "id_nonnull": "image_id IS NOT NULL",
    }
    # violating write: refused, nothing committed, nothing staged left
    with pytest.raises(ConstraintViolation) as ei:
        sink.write(
            spark.createDataFrame(
                [("c", "x", -5), ("d", "x", 3), (None, "x", 2)], ddl
            ).coalesce(1),
            "r2",
        )
    assert "v_positive (1 rows)" in str(ei.value)
    assert "id_nonnull (1 rows)" in str(ei.value)
    assert sink.history(spark)[-1]["version"] == v1
    assert sink.read(spark).count() == 2
    # violating merge: refused the same way
    with pytest.raises(ConstraintViolation):
        sink.merge(
            spark,
            "m1",
            spark.createDataFrame([("a", "x", -1)], ddl),
        )
    assert {r["v"] for r in sink.read(spark).collect()} == {1, None}
    # clean merge still lands
    sink.merge(spark, "m2", spark.createDataFrame([("a", "x", 7)], ddl))
    assert {r["v"] for r in sink.read(spark).collect()} == {7, None}


def test_check_constraints_bind_the_table_not_the_writer(spark):
    """CHECK constraints are TABLE metadata (Delta), not per-instance
    config: a writer constructed without constraints= — the CLI's
    default sink, any maintenance job — inherits the store's recorded
    constraints, and maintenance commits carry them forward so the
    chain never breaks."""
    from gobulk_spark.txlog import ConstraintViolation

    shutil.rmtree(BASE, ignore_errors=True)
    path = os.path.join(BASE, "checkbind")
    ddl = "image_id string, lang string, v int"
    declared = TxLogKeptSink(path, constraints={"v_positive": "v > 0"})
    declared.write(spark.createDataFrame([("a", "x", 1)], ddl), "r1")
    # a default-constructed writer enforces the recorded constraints
    plain = TxLogKeptSink(path)
    with pytest.raises(ConstraintViolation):
        plain.write(spark.createDataFrame([("b", "x", -5)], ddl), "r2")
    plain.write(spark.createDataFrame([("b", "x", 2)], ddl), "r2")
    # ...and its own commits record them (the carry-forward chain)
    assert sink_last_constraints(plain, spark) == {"v_positive": "v > 0"}
    # a maintenance commit (optimize packs the two small files) from a
    # constraint-less instance keeps the chain intact for the NEXT one
    assert TxLogKeptSink(path).optimize(spark, target_file_bytes=1 << 30) > 0
    assert sink_last_constraints(plain, spark) == {"v_positive": "v > 0"}
    with pytest.raises(ConstraintViolation):
        TxLogKeptSink(path).merge(
            spark, "m1", spark.createDataFrame([("a", "x", -1)], ddl)
        )
    # an instance DECLARING constraints replaces the recorded set
    alter = TxLogKeptSink(path, constraints={"v_small": "v < 100"})
    alter.write(spark.createDataFrame([("c", "x", -3)], ddl), "r3")
    assert sink_last_constraints(plain, spark) == {"v_small": "v < 100"}


def sink_last_constraints(sink, spark):
    return sink.history(spark)[-1].get("constraints")
