"""Re-import of changed content: the gobulk update/delete contract.

gobulk keys its tracker on (iteration, repo, identifier, content_hash)
(tracker/gorm.go:441-449) and executes Deletes -> Updates -> Creates
(executor.go:96-113); its e2e format emits Update when the row already
exists (runner_test.go:638-702). These tests pin that behavior over the
parquet kept store and over the txlog store, where the whole re-import
is one merge commit:

- run 1 ingests a corpus; run 2 re-ingests it with one kept row's
  caption CHANGED (still passing) and another kept row's caption
  changed to a FAILING one;
- the changed-but-passing row must be replaced (exactly one kept row,
  the new caption, audited as action=update);
- the now-failing row must vanish from kept entirely (action=delete);
- every unchanged row is skipped (not re-audited) by the
  (image_id, content_hash) marker.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gobulk_spark import lineage
from gobulk_spark.config import PipelineConfig
from gobulk_spark.corpus import generate_pairs
from gobulk_spark.pipeline import run_pipeline
from gobulk_spark.txlog import TxLogKeptSink

BASE = "/tmp/gobulk_spark_test_out/update_delete"
TX_BASE = "/tmp/gobulk_spark_test_out/update_delete_txlog"
GOOD_CAPTION = (
    "a corrected caption describing the quiet harbor with small boats and "
    "the old lighthouse on a clear morning"
)
BAD_CAPTION = "zz"  # fails too_short_chars on re-import -> delete


def _write(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def _reimport(spark, base: str, sink=None):
    """r1 ingests a corpus; r2 re-ingests it with one kept row's
    caption changed to a passing one and another's to a failing one.
    Returns (spark, out, kept1, upd_id, del_id)."""
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    pairs, _ = generate_pairs(600, seed=42)
    pdf = pairs.to_pandas()
    src = _write(pdf, os.path.join(base, "src.parquet"))
    out = os.path.join(base, "out")
    run_pipeline(
        spark, PipelineConfig(source_path=src, out_dir=out, run_id="r1"), sink=sink
    )
    kept1 = _kept(spark, out, sink)

    # mutate two KEPT rows' captions: one stays good, one turns bad
    kept_ids = kept1["image_id"].tolist()
    upd_id, del_id = sorted(kept_ids)[0], sorted(kept_ids)[1]
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.image_id == upd_id, "caption"] = GOOD_CAPTION
    pdf2.loc[pdf2.image_id == del_id, "caption"] = BAD_CAPTION
    src2 = _write(pdf2, os.path.join(base, "src2.parquet"))
    run_pipeline(
        spark,
        PipelineConfig(source_path=src2, out_dir=out, run_id="r2", incremental=True),
        sink=sink,
    )
    return spark, out, kept1, upd_id, del_id


def _kept(spark, out: str, sink=None) -> pd.DataFrame:
    return (sink.read(spark) if sink else lineage.read_kept(spark, out)).toPandas()


@pytest.fixture(scope="module")
def two_runs(spark):
    return _reimport(spark, BASE)


def _check_update(kept2: pd.DataFrame, upd_id: str) -> None:
    # the updated id has exactly ONE kept row and it is the new caption
    rows = kept2[kept2.image_id == upd_id]
    assert len(rows) == 1
    assert rows.iloc[0]["caption"] == GOOD_CAPTION
    assert rows.iloc[0]["run"] == "r2"
    # the old row is gone from r1's directory
    assert not (
        (kept2.image_id == upd_id) & (kept2.run == "r1")
    ).any()


def _check_audit(spark, out: str, upd_id: str, del_id: str) -> None:
    audit = lineage.read_audit(spark, out).toPandas()
    r2 = audit[(audit.run_id == "r2") & (audit.wphase == "store")]
    actions = r2.set_index("image_id")["action"]
    assert actions[upd_id] == "update"
    assert actions[del_id] == "delete"
    # ONLY the two changed rows were reprocessed: the (id, hash) marker
    # filtered every unchanged row
    assert set(r2.image_id) == {upd_id, del_id}


def _check_unique_and_untouched(kept1, kept2, upd_id: str, del_id: str) -> None:
    assert kept2["image_id"].is_unique
    # every other kept row survived the rewrite byte-for-byte
    others1 = kept1[~kept1.image_id.isin([upd_id, del_id])].sort_values(
        "image_id"
    ).reset_index(drop=True)
    others2 = kept2[~kept2.image_id.isin([upd_id, del_id])].sort_values(
        "image_id"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        others1[["image_id", "caption", "content_hash", "lang"]],
        others2[["image_id", "caption", "content_hash", "lang"]],
    )


def _check_retry_converges(spark, out: str, base: str, upd_id, del_id, sink=None):
    kept_before = _kept(spark, out, sink)
    # simulate: r2's store phase crashed right after its kept mutation,
    # before commit -> drop the commit manifest and re-run
    os.remove(os.path.join(out, "_checkpoint", "r2", "store.json"))
    src2 = os.path.join(base, "src2.parquet")
    run_pipeline(
        spark,
        PipelineConfig(source_path=src2, out_dir=out, run_id="r2", incremental=True),
        sink=sink,
    )
    kept_after = _kept(spark, out, sink)
    assert kept_after["image_id"].is_unique
    assert sorted(kept_after["image_id"]) == sorted(kept_before["image_id"])
    rows = kept_after[kept_after.image_id == upd_id]
    assert len(rows) == 1 and rows.iloc[0]["caption"] == GOOD_CAPTION
    assert del_id not in set(kept_after.image_id)


def test_changed_content_reenters_and_updates(two_runs):
    spark, out, kept1, upd_id, del_id = two_runs
    _check_update(lineage.read_kept(spark, out).toPandas(), upd_id)


def test_now_failing_content_deletes_prior_row(two_runs):
    spark, out, kept1, upd_id, del_id = two_runs
    kept2 = lineage.read_kept(spark, out).toPandas()
    assert del_id in set(kept1.image_id)
    assert del_id not in set(kept2.image_id)


def test_audit_actions_update_and_delete(two_runs):
    spark, out, kept1, upd_id, del_id = two_runs
    _check_audit(spark, out, upd_id, del_id)


def test_kept_store_unique_and_untouched_elsewhere(two_runs):
    spark, out, kept1, upd_id, del_id = two_runs
    _check_unique_and_untouched(
        kept1, lineage.read_kept(spark, out).toPandas(), upd_id, del_id
    )


def test_partition_level_swap_crash_is_healed(two_runs):
    """Delete rewrites prune to (run, lang) LEAF partitions; a crash
    between the leaf swap's renames strands .lang=Y.bak-* inside the
    run dir and recovery must heal it before any read."""
    spark, out, kept1, upd_id, del_id = two_runs
    kept_before = lineage.read_kept(spark, out).toPandas()
    run_dir = os.path.join(out, "kept", "run=r1")
    lang = next(e.split("=")[1] for e in os.listdir(run_dir) if e.startswith("lang="))
    bak = os.path.join(run_dir, f".lang={lang}.bak-r2")
    os.rename(os.path.join(run_dir, f"lang={lang}"), bak)
    os.remove(os.path.join(out, "_checkpoint", "r2", "store.json"))
    run_pipeline(
        spark,
        PipelineConfig(
            source_path=os.path.join(BASE, "src2.parquet"),
            out_dir=out,
            run_id="r2",
            incremental=True,
        ),
    )
    kept_after = lineage.read_kept(spark, out).toPandas()
    assert sorted(kept_after["image_id"]) == sorted(kept_before["image_id"])
    assert not os.path.exists(bak)


def test_delete_rewrite_prunes_to_affected_partitions(two_runs):
    """The r2 delete step must leave UNAFFECTED (run, lang) leaf dirs
    byte-untouched (their files keep r1's mtimes/names) — proof the
    rewrite pruned below run level."""
    spark, out, kept1, upd_id, del_id = two_runs
    audit = lineage.read_audit(spark, out).toPandas()
    r2 = audit[(audit.run_id == "r2") & (audit.wphase == "store")]
    touched_ids = set(r2.image_id)
    affected_langs = set(
        kept1.loc[kept1.image_id.isin(touched_ids), "lang"]
        if "lang" in kept1.columns
        else []
    )
    run_dir = os.path.join(out, "kept", "run=r1")
    untouched = [
        e.split("=")[1]
        for e in os.listdir(run_dir)
        if e.startswith("lang=") and e.split("=")[1] not in affected_langs
    ]
    assert untouched, "precondition: some language partition was unaffected"
    # staged rewrites exist only for affected langs
    rewrite_dir = os.path.join(out, "_stage", "r2", "rewrite", "run=r1")
    if os.path.isdir(rewrite_dir):
        staged_langs = {e.split("=")[1] for e in os.listdir(rewrite_dir)}
        assert staged_langs <= affected_langs
    # rewritten leaves land like fresh run dirs: no Hadoop .crc sidecars
    crc = [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(out, "kept"))
        for f in files
        if f.endswith(".crc")
    ]
    assert not crc, crc


def test_store_retry_after_delete_step_converges(two_runs):
    """Crash after the D step, retry: end state identical (idempotent
    execution; audit label may downgrade update->create by design)."""
    spark, out, kept1, upd_id, del_id = two_runs
    _check_retry_converges(spark, out, BASE, upd_id, del_id)


# --- the same contract over the txlog store: one merge commit per run ---


class _CountingTxLog(TxLogKeptSink):
    """A txlog sink that counts its Delete-verb calls."""

    deletes = 0

    def delete(self, spark, run_id, keys):
        self.deletes += 1
        super().delete(spark, run_id, keys)


@pytest.fixture(scope="module")
def txlog_runs(spark):
    """The two-run re-import against the txlog store. Records r2's log
    entries, the sink's delete calls and the stage dirs the store step
    asked for."""
    sink = _CountingTxLog(os.path.join(TX_BASE, "out"))
    stages: list[tuple[str, str]] = []
    real_stage_dir = lineage.stage_dir

    def stage_dir(out_dir, run_id, name):
        stages.append((run_id, name))
        return real_stage_dir(out_dir, run_id, name)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lineage, "stage_dir", stage_dir)
        res = _reimport(spark, TX_BASE, sink)
    r2_entries = [e for e in sink.history(spark) if e["run_id"] == "r2"]
    return res, sink, r2_entries, stages


def test_txlog_reimport_updates_deletes_and_audits(txlog_runs):
    (spark, out, kept1, upd_id, del_id), sink, _, _ = txlog_runs
    kept2 = _kept(spark, out, sink)
    _check_update(kept2, upd_id)
    assert del_id in set(kept1.image_id)
    assert del_id not in set(kept2.image_id)
    _check_audit(spark, out, upd_id, del_id)
    _check_unique_and_untouched(kept1, kept2, upd_id, del_id)


def test_txlog_reimport_matches_parquet(two_runs, txlog_runs):
    """Same inputs, same kept rows (ignoring the run stamp)."""
    spark, pq_out = two_runs[:2]
    (_, tx_out, _, _, _), sink, _, _ = txlog_runs

    def rows(df):
        df = df.drop(columns=["run"])
        # the two stores read identical source files from two dirs
        df["source_file"] = df["source_file"].map(os.path.basename)
        return df[sorted(df.columns)].sort_values("image_id").reset_index(drop=True)

    pd.testing.assert_frame_equal(
        rows(_kept(spark, tx_out, sink)), rows(_kept(spark, pq_out))
    )


def test_txlog_reimport_is_one_merge_commit(txlog_runs):
    """r2 commits exactly one merge entry: no delete entry, no
    Delete-verb call and no staged copy of the decided rows."""
    _, sink, r2_entries, stages = txlog_runs
    assert [e["op"] for e in r2_entries] == ["merge"]
    assert r2_entries[0]["remove"] and r2_entries[0]["appended"]
    assert sink.deletes == 0
    assert ("r2", "decided") not in stages


def test_txlog_store_retry_after_merge_commit_converges(txlog_runs):
    """Crash after the merge commit, retry: the same kept rows."""
    (spark, out, kept1, upd_id, del_id), sink, _, _ = txlog_runs
    _check_retry_converges(spark, out, TX_BASE, upd_id, del_id, sink)


def test_txlog_delete_only_reimport_adds_no_update_file(txlog_runs):
    """A run whose only change is a now-failing row commits one merge
    entry that appends no update file: the victim's file is rewritten
    without it."""
    (spark, out, kept1, upd_id, del_id), sink, _, _ = txlog_runs
    gone = sorted(kept1.image_id)[2]
    pdf = pd.read_parquet(os.path.join(TX_BASE, "src2.parquet"))
    pdf.loc[pdf.image_id == gone, "caption"] = BAD_CAPTION
    src3 = _write(pdf, os.path.join(TX_BASE, "src3.parquet"))
    n_before = len(sink.history(spark))
    kept_before = _kept(spark, out, sink)
    run_pipeline(
        spark,
        PipelineConfig(source_path=src3, out_dir=out, run_id="r3", incremental=True),
        sink=sink,
    )
    new = sink.history(spark)[n_before:]
    assert [e["op"] for e in new] == ["merge"]
    assert new[0]["appended"] == [] and new[0]["remove"]
    assert not [p for p in new[0]["add"] if p.startswith("data/mrg-")]
    kept3 = _kept(spark, out, sink)
    assert sorted(kept3.image_id) == sorted(set(kept_before.image_id) - {gone})


def test_content_revert_reenters_pipeline(spark):
    """A doc whose content REVERTS to a previously-seen hash must be
    reprocessed: the marker keys on the LATEST hash per id, not on
    all-history (id, hash) pairs — otherwise the r1 audit pair masks
    the revert and the kept store stays stale forever."""
    base = "/tmp/gobulk_spark_test_out/revert"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    from gobulk_spark.corpus import SEED_TEXT

    pdf = generate_pairs(300, seed=31)[0].to_pandas()
    out = os.path.join(base, "out")
    src1 = _write(pdf, os.path.join(base, "v1.parquet"))
    run_pipeline(spark, PipelineConfig(source_path=src1, out_dir=out, run_id="r1"))
    kept1 = lineage.read_kept(spark, out).toPandas()
    rid = sorted(kept1.image_id)[1]
    original = pdf.loc[pdf.image_id == rid, "caption"].iloc[0]

    pdf2 = pdf.copy()
    pdf2.loc[pdf2.image_id == rid, "caption"] = SEED_TEXT["en"][0] + " " + SEED_TEXT["en"][1]
    src2 = _write(pdf2, os.path.join(base, "v2.parquet"))
    run_pipeline(spark, PipelineConfig(source_path=src2, out_dir=out, run_id="r2", incremental=True))

    # revert to the ORIGINAL content (hash already present in r1 audit)
    src3 = _write(pdf, os.path.join(base, "v3.parquet"))
    run_pipeline(spark, PipelineConfig(source_path=src3, out_dir=out, run_id="r3", incremental=True))
    kept3 = lineage.read_kept(spark, out).toPandas()
    rows = kept3[kept3.image_id == rid]
    assert len(rows) == 1
    assert rows.iloc[0]["caption"] == original  # store reflects the revert
    assert rows.iloc[0]["run"] == "r3"
    audit = lineage.read_audit(spark, out).toPandas()
    r3 = audit[(audit.run_id == "r3") & (audit.wphase == "store")]
    assert set(r3.image_id) == {rid} and r3.iloc[0]["action"] == "update"


def test_resolve_conflicting_ids_unit(spark):
    """Same id, two DIFFERENT kept contents in one batch: the max-hash
    sibling survives (the marker's own tie-break), the loser becomes an
    issue row; other actions and other ids are untouched; collision-free
    input comes back as-is (no window shuffle paid)."""
    from gobulk_spark import executor

    ddl = (
        "image_id string, content_hash string, action string, "
        "keep boolean, issue_note string"
    )
    rows = [
        ("a", "h1", "create", True, None),
        ("a", "h2", "create", True, None),
        ("b", "h3", "update", True, None),
        ("c", "h4", "omit", False, None),
    ]
    out = {
        (r["image_id"], r["content_hash"]): r
        # probe: 3 kept (id, hash) pairs over 2 kept ids
        for r in executor.resolve_conflicting_ids(
            spark.createDataFrame(rows, ddl), probe=(3, 2)
        ).collect()
    }
    assert out[("a", "h2")]["action"] == "create"
    loser = out[("a", "h1")]
    assert loser["action"] == "issue" and loser["keep"] is False
    assert "h2" in loser["issue_note"]
    assert out[("b", "h3")]["action"] == "update"
    assert out[("c", "h4")]["action"] == "omit"
    # no-collision probe short-circuits to the SAME frame
    clean = spark.createDataFrame(rows[1:], ddl)
    assert executor.resolve_conflicting_ids(clean, probe=(2, 2)) is clean
