"""Snapshot-versioned tier storage (engine/snapstore.py): CoW hardlink
snapshots + atomic pointer flip give the parquet emulation the Iceberg
guarantees the plain backend lacks — torn-reader-free compaction, time
travel, rollback, snapshot GC, and a partition-level changelog."""

import os
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.snapstore import SnapshotError, SnapStore  # noqa: E402


def _write_snapshot(store, df, op="write"):
    sid = store.begin(op)
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("p")
        .mode("overwrite")
        .parquet(store.snapshot_path(sid))
    )
    store.publish(sid)
    return sid


def _pdf(df, keys):
    return (
        df.toPandas()
        .sort_values(keys, ignore_index=True)
        .reindex(sorted(df.columns), axis=1)
    )


@pytest.fixture()
def store(tmp_path):
    return SnapStore(str(tmp_path / "tbl"))


def _mk(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["p", "k", "v"]))


def test_commit_read_time_travel(spark, store):
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 10.0), ("b", 2, 20.0)]))
    # second snapshot rewrites partition a only; b rides along via CoW
    s2 = _write_snapshot(store, _mk(spark, [("a", 1, 99.0)]))
    assert store.current_id() == s2
    cur = _pdf(store.read(spark), ["p", "k"])
    assert cur["v"].tolist() == [99.0, 20.0]
    old = _pdf(store.read(spark, as_of=s1), ["p", "k"])
    assert old["v"].tolist() == [10.0, 20.0]
    assert store.meta(s2)["parent"] == s1


def test_unchanged_partitions_are_hardlinked_not_copied(spark, store):
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]))
    s2 = _write_snapshot(store, _mk(spark, [("a", 1, 3.0)]))

    def inodes(sid, part):
        d = os.path.join(store.snapshot_path(sid), f"p={part}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    assert inodes(s1, "b") == inodes(s2, "b")  # shared inodes: zero copy
    assert not set(inodes(s1, "a")) & set(inodes(s2, "a"))  # rewritten


def test_drop_partitions_rollback_expire(spark, store):
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]))
    s2 = store.drop_partitions(["p=a"], op="retention")
    assert _pdf(store.read(spark), ["k"])["p"].tolist() == ["b"]
    # prior snapshot still shows the dropped partition (time travel)
    assert set(_pdf(store.read(spark, as_of=s1), ["k"])["p"]) == {"a", "b"}
    # rollback is a pointer flip
    store.rollback(s1)
    assert set(_pdf(store.read(spark), ["k"])["p"]) == {"a", "b"}
    store.rollback(s2)
    # expire everything but the newest; published snapshot always survives
    doomed = store.expire(keep_last=1)
    assert doomed == [s1]
    with pytest.raises(SnapshotError):
        store.read(spark, as_of=s1)
    assert _pdf(store.read(spark), ["k"])["p"].tolist() == ["b"]


def test_abort_leaves_published_snapshot_untouched(spark, store):
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 1.0)]))
    staged = store.begin("doomed")
    assert store.current_id() == s1
    store.abort(staged)
    assert store.snapshot_ids() == [s1]
    with pytest.raises(SnapshotError):
        store.abort(s1)


def test_diff_and_read_changes(spark, store):
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 1.0), ("b", 2, 2.0)]))
    s2 = _write_snapshot(store, _mk(spark, [("a", 1, 9.0), ("c", 3, 3.0)]))
    d = store.diff(s1, s2)
    assert d == {"added": ["p=c"], "removed": [], "rewritten": ["p=a"]}
    changes = _pdf(store.read_changes(spark, since=s1), ["p"])
    assert changes["p"].tolist() == ["a", "c"]  # partition b never scanned
    s3 = store.drop_partitions(["p=b"])
    assert store.diff(s2, s3)["removed"] == ["p=b"]
    assert store.read_changes(spark, since=s2).count() == 0


def test_reader_pinned_across_concurrent_compaction(spark, store):
    """The ADVICE-r2 hazard, fixed: a reader holding the published snapshot
    keeps a consistent view while a compaction publishes a new one — and at
    no instant is any table path missing."""
    df = _mk(spark, [("a", i, float(i)) for i in range(50)])
    s1 = _write_snapshot(store, df)
    reader = store.read(spark)  # plan pinned to s1's tree
    # "compaction": full rewrite into a fresh snapshot, then pointer flip
    sid = store.begin("compact")
    (
        store.read(spark)
        .coalesce(1)
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("p")
        .mode("overwrite")
        .parquet(store.snapshot_path(sid))
    )
    store.publish(sid)
    # the pre-compaction reader still answers, bit-identically
    got = _pdf(reader, ["k"])
    assert got["v"].tolist() == [float(i) for i in range(50)]
    assert _pdf(store.read(spark), ["k"]).equals(got)
    # old snapshot reclaimable only once readers are done
    store.expire(keep_last=1)
    assert store.snapshot_ids() == [sid]
    assert store.current_id() == sid


# -- pipeline integration ----------------------------------------------------


@pytest.fixture(scope="module")
def t0(spark):
    from engine.synth import synth_transcripts

    df = synth_transcripts(spark, n_convs=30, hot_turns=150)
    df.cache().count()
    return df


def _tier_pdf(pipe, tier, keys=("conv_id", "bucket_start")):
    df = pipe.read_tier(tier)
    return (
        df.toPandas()
        .sort_values(list(keys), ignore_index=True)
        .reindex(sorted(df.columns), axis=1)
    )


def test_pipeline_snapshot_mode_matches_plain(spark, t0, tmp_path):
    from engine.pipeline import TierPipeline

    plain = TierPipeline(spark, str(tmp_path / "plain"))
    snap = TierPipeline(spark, str(tmp_path / "snap"), snapshots=True)
    plain.run(t0)
    snap.run(t0)
    for tier in ("hourly", "daily", "monthly"):
        pd.testing.assert_frame_equal(
            _tier_pdf(snap, tier), _tier_pdf(plain, tier)
        ), tier
    # the series table too, and the gap-fill served from it
    from engine.rewrite import serve_gapfill

    def gapfilled(p):
        return serve_gapfill(
            p.read_tier("hourly"),
            p.read_table("chunks"), "2000-01-01", "2100-01-01",
            p.fill_method,
        )

    for name, keys, a, b in (
        ("gapfill", ["conv_id", "metric", "bucket_start"],
         gapfilled(snap), gapfilled(plain)),
        ("chunks", ["conv_id", "metric", "chunk_start"],
         snap.read_table("chunks"),
         spark.read.option("basePath", plain._chunks_dir()).parquet(
             os.path.join(plain._chunks_dir(), "chunk_month=*"))),
    ):
        pa = a.toPandas().sort_values(keys, ignore_index=True).reindex(sorted(a.columns), axis=1)
        pb = b.toPandas().sort_values(keys, ignore_index=True).reindex(sorted(b.columns), axis=1)
        pd.testing.assert_frame_equal(pa, pb), name


def test_pipeline_reroll_is_time_travelable(spark, t0, tmp_path):
    from engine.pipeline import TierPipeline
    from engine.snapstore import SnapStore

    pipe = TierPipeline(spark, str(tmp_path / "tt"), snapshots=True)
    pipe.run(t0)
    store = SnapStore(pipe.tier_path("hourly"))
    s_before = store.current_id()
    before = _tier_pdf(pipe, "hourly")
    # late data: duplicate one conversation's turns shifted by 30 minutes
    late = t0.limit(0).unionByName(
        t0.filter("conv_id = 'conv-00000000'").selectExpr(
            "conv_id",
            "cast(turn_idx + 100000 as int) as turn_idx",
            "role",
            "text",
            "tool",
            "ts + interval 30 minutes as ts",
        )
    )
    pipe.run(t0.unionByName(late))
    after = _tier_pdf(pipe, "hourly")
    assert len(after) >= len(before)
    assert not after.equals(before)
    # time travel: pre-late-data state replays exactly
    old = store.read(spark, as_of=s_before)
    old_pdf = (
        old.toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
        .reindex(sorted(old.columns), axis=1)
    )
    pd.testing.assert_frame_equal(old_pdf, before)
    # changelog: only the late conversation's days were rewritten
    d = store.diff(s_before, store.current_id())
    assert d["rewritten"] or d["added"]
    changed_days = {
        p.split("=", 1)[1] for p in d["rewritten"] + d["added"]
    }
    late_days = {
        str(r["d"]) for r in late.selectExpr("to_date(ts) as d").distinct().collect()
    }
    assert changed_days <= late_days


def test_pipeline_snapshot_retention_and_compaction(spark, t0, tmp_path):
    from engine.pipeline import TierPipeline
    from engine.retention import (
        compact_partition,
        drop_hourly_partitions,
        droppable_hourly_days,
    )
    from engine.snapstore import SnapStore

    pipe = TierPipeline(spark, str(tmp_path / "sr"), snapshots=True)
    pipe.run(t0)
    store = SnapStore(pipe.tier_path("hourly"))
    s0 = store.current_id()
    days = droppable_hourly_days(pipe, older_than="9999-12-31")
    assert days
    dropped = drop_hourly_partitions(pipe, days[:1], run_id="rt")
    assert dropped == days[:1]
    cur = pipe.read_tier("hourly").selectExpr("cast(bucket_date as string) d")
    assert cur.filter(f"d = '{dropped[0]}'").count() == 0
    # the dropped day is still visible at the pre-drop snapshot
    tt = store.read(spark, as_of=s0).selectExpr("cast(bucket_date as string) d")
    assert tt.filter(f"d = '{dropped[0]}'").count() > 0
    # a rerun does not resurrect the dropped day
    pipe.run(t0)
    assert (
        pipe.read_tier("hourly")
        .selectExpr("cast(bucket_date as string) d")
        .filter(f"d = '{dropped[0]}'")
        .count()
        == 0
    )
    # compaction in snapshot mode: reader pinned pre-compaction survives
    reader = pipe.read_tier("daily")
    before = (
        reader.toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
        .reindex(sorted(reader.columns), axis=1)
    )
    compact_partition(pipe, "daily", n_files=1)
    dstore = SnapStore(pipe.tier_path("daily"))
    after_files = {
        d: len([f for f in os.listdir(os.path.join(dstore.snapshot_path(dstore.current_id()), d)) if f.endswith(".parquet")])
        for d in os.listdir(dstore.snapshot_path(dstore.current_id()))
        if d.startswith("bucket_date=")
    }
    assert after_files and all(n == 1 for n in after_files.values())
    again = (
        reader.toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
        .reindex(sorted(reader.columns), axis=1)
    )
    pd.testing.assert_frame_equal(again, before)
    post = pipe.read_tier("daily")
    post_pdf = (
        post.toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
        .reindex(sorted(post.columns), axis=1)
    )
    pd.testing.assert_frame_equal(post_pdf, before)


def test_pipeline_expire_snapshots(spark, t0, tmp_path):
    from engine.pipeline import TierPipeline
    from engine.retention import expire_snapshots
    from engine.snapstore import SnapshotError, SnapStore

    pipe = TierPipeline(spark, str(tmp_path / "gc"), snapshots=True)
    pipe.run(t0)
    # second run with late data -> a second snapshot per touched table
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    pipe.run(t0.unionByName(late))
    store = SnapStore(pipe.tier_path("hourly"))
    ids = store.snapshot_ids()
    assert len(ids) >= 2
    before = pipe.read_tier("hourly").count()
    doomed = expire_snapshots(pipe, keep_last=1)
    assert doomed["hourly"] == ids[:-1]
    # published data untouched; history gone
    assert pipe.read_tier("hourly").count() == before
    with pytest.raises(SnapshotError):
        store.read(spark, as_of=ids[0])
    # a snapshots=False pipeline expires like any other (it has no
    # snapshot-mode precondition); an empty root has nothing to expire
    assert expire_snapshots(TierPipeline(spark, str(tmp_path / "pl")), 1) == {}


def test_read_consistent_pins_all_tables_to_one_run(spark, t0, tmp_path):
    """Cross-table run barrier: after a second (late-data) run, the first
    run's sealed view must replay every table's pre-late-data state — never
    mixing tiers from different runs."""
    from engine.pipeline import TierPipeline

    pipe = TierPipeline(spark, str(tmp_path / "rc"), snapshots=True)
    r1 = pipe.run(t0)["run_id"]
    snap1 = {
        name: _pdf_any(df)
        for name, df in pipe.read_consistent(r1).items()
    }
    assert set(snap1) == {"hourly", "daily", "monthly", "chunks"}
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    r2 = pipe.run(t0.unionByName(late))["run_id"]
    # current state changed for at least the hourly tier
    assert not _pdf_any(pipe.read_tier("hourly")).equals(snap1["hourly"])
    # default pin = latest sealed run == live state
    for name, df in pipe.read_consistent().items():
        pd.testing.assert_frame_equal(
            _pdf_any(df), _pdf_any(pipe.read_table(name))
        ), name
    # the r1 view is bit-stable across the re-roll
    for name, df in pipe.read_consistent(r1).items():
        pd.testing.assert_frame_equal(_pdf_any(df), snap1[name]), name
    assert pipe.run_snapshots(r1) != pipe.run_snapshots(r2)


def _pdf_any(df):
    cols = sorted(df.columns)
    return (
        df.toPandas()
        .reindex(cols, axis=1)
        .sort_values(cols, ignore_index=True)
    )


def test_rollback_run_restores_and_rearms_resume(spark, t0, tmp_path):
    """Run-level rollback: pointer-flip every table to a sealed run AND
    sentinel the newer fingerprint commits so the next run re-rolls instead
    of wrongly skipping — then re-applying the undone input reproduces the
    undone state exactly."""
    from engine.pipeline import TierPipeline

    pipe = TierPipeline(spark, str(tmp_path / "rb"), snapshots=True)
    r1 = pipe.run(t0)["run_id"]
    state1 = {n: _pdf_any(pipe.read_table(n)) for n in pipe.TABLE_NAMES}
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    t2 = t0.unionByName(late)
    r2 = pipe.run(t2)
    assert r2["stages"]["hourly"] > 0
    state2 = {n: _pdf_any(pipe.read_table(n)) for n in pipe.TABLE_NAMES}
    assert not state2["hourly"].equals(state1["hourly"])

    pipe.rollback_run(r1)
    for n in pipe.TABLE_NAMES:
        pd.testing.assert_frame_equal(_pdf_any(pipe.read_table(n)), state1[n]), n
    # default consistent view = the resealed (rolled-back) barrier
    pd.testing.assert_frame_equal(
        _pdf_any(pipe.read_consistent()["hourly"]), state1["hourly"]
    )
    # re-arm proof: running the UNDONE input again must re-roll (a bare
    # pointer flip would skip — fingerprints were already committed for t2)
    r3 = pipe.run(t2)
    assert r3["stages"]["hourly"] > 0, r3
    for n in pipe.TABLE_NAMES:
        pd.testing.assert_frame_equal(_pdf_any(pipe.read_table(n)), state2[n]), n


def test_rollback_refuses_across_retention(spark, t0, tmp_path):
    from engine.pipeline import TierPipeline
    from engine.retention import drop_hourly_partitions, droppable_hourly_days

    pipe = TierPipeline(spark, str(tmp_path / "rbr"), snapshots=True)
    r1 = pipe.run(t0)["run_id"]
    days = droppable_hourly_days(pipe, "9999-12-31")
    drop_hourly_partitions(pipe, days[:1], run_id="ret")
    with pytest.raises(ValueError, match="retention"):
        pipe.rollback_run(r1)


def test_rollback_to_an_expired_target_changes_nothing(spark, t0, tmp_path):
    """A rollback whose target snapshots were partly expired (a tag kept
    hourly's, the others went) must refuse before the first pointer flip:
    flipping table by table and failing at daily would leave hourly at r1,
    the rest at r2, and hourly's r2 fingerprints claiming its days."""
    from engine.pipeline import TierPipeline
    from engine.retention import expire_snapshots

    pipe = TierPipeline(spark, str(tmp_path / "rbx"), snapshots=True)
    r1 = pipe.run(t0)["run_id"]
    stores = {n: SnapStore(pipe.table_path(n)) for n in pipe.TABLE_NAMES}
    stores["hourly"].tag("r1-hourly")
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    t2 = t0.unionByName(late)
    assert pipe.run(t2)["stages"]["hourly"] > 0
    state2 = {n: _pdf_any(pipe.read_table(n)) for n in pipe.TABLE_NAMES}
    expire_snapshots(pipe, keep_last=1)
    current = {n: s.current_id() for n, s in stores.items()}
    n_manifest = len(pipe.manifest.read_pandas())

    with pytest.raises(SnapshotError, match="expired"):
        pipe.rollback_run(r1)
    assert {n: s.current_id() for n, s in stores.items()} == current
    assert len(pipe.manifest.read_pandas()) == n_manifest
    for n in pipe.TABLE_NAMES:
        pd.testing.assert_frame_equal(_pdf_any(pipe.read_table(n)), state2[n]), n
    # nothing re-armed: the same input is still a no-op
    assert all(v == 0 for v in pipe.run(t2)["stages"].values())


# -- write-audit-publish ------------------------------------------------------


def test_wap_run_matches_and_publishes_once(spark, t0, tmp_path):
    """WAP end state == plain snapshot-mode end state, and each table gains
    exactly ONE published snapshot per sealed run (stages never publish
    mid-run)."""
    from engine.pipeline import TierPipeline
    from engine.snapstore import SnapStore

    ref = TierPipeline(spark, str(tmp_path / "ref"), snapshots=True)
    ref.run(t0)
    pipe = TierPipeline(spark, str(tmp_path / "wap"), snapshots=True, wap=True)
    pipe.run(t0)
    for n in pipe.TABLE_NAMES:
        pd.testing.assert_frame_equal(
            _pdf_any(pipe.read_table(n)), _pdf_any(ref.read_table(n))
        ), n
        store = SnapStore(pipe.table_path(n))
        assert len(store.snapshot_ids()) == 1, n
        assert store.meta(store.current_id()).get("published") is True


def test_wap_audit_veto_leaves_everything_untouched(spark, t0, tmp_path):
    """An audit veto after ALL stages ran must leave published tables AND
    the resume manifest exactly as before — then a passing rerun applies
    the same input cleanly (nothing was half-committed)."""
    from engine.pipeline import TierPipeline

    root = str(tmp_path / "veto")
    seed = TierPipeline(spark, root, snapshots=True, wap=True)
    seed.run(t0)
    before = {n: _pdf_any(seed.read_table(n)) for n in seed.TABLE_NAMES}
    n_manifest = seed.manifest.read().count()

    class Veto(RuntimeError):
        pass

    audits = []

    def audit(p):
        # the audit sees the STAGED state: late rows already rolled in
        audits.append(p.read_tier("hourly").count())
        raise Veto("quality gate failed")

    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    t2 = t0.unionByName(late)
    vetoed = TierPipeline(
        spark, root, snapshots=True, wap=True, wap_audit=audit
    )
    with pytest.raises(Veto):
        vetoed.run(t2)
    assert audits and audits[0] > len(before["hourly"])  # audit saw staged
    # nothing moved: tables, manifest, barrier
    for n in seed.TABLE_NAMES:
        pd.testing.assert_frame_equal(
            _pdf_any(seed.read_table(n)), before[n]
        ), n
    assert seed.manifest.read().count() == n_manifest
    # rerun without the veto applies the same input from scratch
    ok = TierPipeline(spark, root, snapshots=True, wap=True)
    r = ok.run(t2)
    assert r["stages"]["hourly"] > 0
    assert not _pdf_any(ok.read_tier("hourly")).equals(before["hourly"])


def test_wap_crash_mid_run_publishes_nothing_and_recovers(spark, t0, tmp_path):
    """A crash between stages of a WAP run publishes nothing and commits
    nothing; the leftover staged snapshots are swept on the next run, which
    then completes normally."""
    from engine.pipeline import TierPipeline
    from engine.snapstore import SnapStore

    root = str(tmp_path / "crash")
    pipe = TierPipeline(spark, root, snapshots=True, wap=True)
    boom = RuntimeError("kill between stages")
    orig = pipe._run_stage
    calls = []

    def dying(stage, *a, **kw):
        if stage == "monthly":
            raise boom
        calls.append(stage)
        return orig(stage, *a, **kw)

    pipe._run_stage = dying
    with pytest.raises(RuntimeError, match="kill between stages"):
        pipe.run(t0)
    assert "hourly" in calls and "daily" in calls
    for n in pipe.TABLE_NAMES:
        store = SnapStore(pipe.table_path(n))
        assert store.current_id() is None, n  # nothing ever published
    assert pipe.manifest.read().count() == 0
    # recovery: a fresh run sweeps staging and completes
    fresh = TierPipeline(spark, root, snapshots=True, wap=True)
    r = fresh.run(t0)
    assert r["stages"]["hourly"] > 0
    for n in fresh.TABLE_NAMES:
        store = SnapStore(fresh.table_path(n))
        assert len(store.snapshot_ids()) == 1, n


# -- ADVICE r3 fixes ----------------------------------------------------------


def test_snapshot_ids_stay_monotonic_after_expire(spark, store):
    """After expire() shrinks the set, new snapshot ids must still sort
    AFTER every retained id (ADVICE r3: a count-derived prefix reused low
    numbers, so expire(keep_last=N) could GC a genuinely newer snapshot
    while retaining older ones)."""
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 1.0)]))
    s2 = _write_snapshot(store, _mk(spark, [("a", 1, 2.0)]))
    s3 = _write_snapshot(store, _mk(spark, [("a", 1, 3.0)]))
    store.expire(keep_last=1)
    assert store.snapshot_ids() == [s3]
    s4 = _write_snapshot(store, _mk(spark, [("a", 1, 4.0)]))
    s5 = _write_snapshot(store, _mk(spark, [("a", 1, 5.0)]))
    # creation order == sort order, even after the GC gap
    assert store.snapshot_ids() == [s3, s4, s5]
    assert s4 > s3 and s5 > s4
    # keep-newest retention now keeps the actually-newest snapshots
    doomed = store.expire(keep_last=2)
    assert doomed == [s3]
    assert store.snapshot_ids() == [s4, s5]
    assert store.current_id() == s5
    assert _pdf(store.read(spark, as_of=s4), ["k"])["v"].tolist() == [4.0]


def test_expire_protects_barriers_and_consumers(spark, t0, tmp_path):
    """expire_snapshots must not GC snapshots referenced by sealed run
    barriers (rollback/read_consistent targets) or by an incremental
    consumer's _CONSUMED pointer (ADVICE r3)."""
    from engine.incremental import IncrementalConvSummary
    from engine.pipeline import TierPipeline
    from engine.retention import expire_snapshots

    pipe = TierPipeline(spark, str(tmp_path / "prot"), snapshots=True)
    r1 = pipe.run(t0)["run_id"]
    cons = IncrementalConvSummary(pipe, str(tmp_path / "serve"))
    cons.refresh()
    consumed = cons.consumed_id()
    late = t0.limit(50).selectExpr(
        "conv_id", "cast(turn_idx + 90000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 7 minutes as ts",
    )
    pipe.run(t0.unionByName(late))
    r3 = pipe.run(t0.unionByName(late).unionByName(
        late.selectExpr(
            "conv_id", "cast(turn_idx + 95000 as int) as turn_idx",
            "role", "text", "tool", "ts + interval 9 minutes as ts",
        )
    ))["run_id"]
    # aggressive GC, but pinning run r1 and the consumer
    expire_snapshots(pipe, keep_last=1, protect_runs=[r1], consumers=[cons])
    # r1's full cross-table view still resolves (rollback target intact)
    views = pipe.read_consistent(r1)
    assert views["hourly"].count() > 0
    # consumer's consumed snapshot survived -> next refresh is incremental
    assert os.path.isdir(
        SnapStore(pipe.tier_path("hourly")).snapshot_path(consumed)
    )
    assert cons.refresh()["mode"] in ("incremental", "noop")
    # the newest barrier (default read_consistent) also always survives
    assert pipe.read_consistent(r3)["hourly"].count() > 0
    # without protection, intermediate unreferenced snapshots do get GC'd
    hourly_ids = SnapStore(pipe.tier_path("hourly")).snapshot_ids()
    protected = {pipe.run_snapshots(r1)["hourly"],
                 pipe.run_snapshots(r3)["hourly"], consumed}
    assert set(hourly_ids) <= protected | {hourly_ids[-1]}


def test_tags_pin_snapshots_and_survive_expire(spark, store):
    """Iceberg-style tag refs: a named pin reads by name, survives expire
    at any keep_last, and re-tagging/untagging is atomic."""
    s1 = _write_snapshot(store, _mk(spark, [("a", 1, 10.0)]))
    store.tag("audit-q1")  # defaults to current
    s2 = _write_snapshot(store, _mk(spark, [("a", 1, 20.0)]))
    s3 = _write_snapshot(store, _mk(spark, [("a", 1, 30.0)]))
    assert store.tags() == {"audit-q1": s1}
    assert store.resolve("audit-q1") == s1
    assert _pdf(store.read(spark, as_of="audit-q1"), ["p", "k"])["v"].tolist() == [10.0]

    # expire keeps the tagged snapshot; the untagged middle one dies
    gone = store.expire(keep_last=1)
    assert s2 in gone and s1 not in gone and s3 not in gone
    assert _pdf(store.read(spark, as_of="audit-q1"), ["p", "k"])["v"].tolist() == [10.0]
    with pytest.raises(SnapshotError):
        store.read(spark, as_of=s2)

    # re-tag moves the pin atomically; untag releases it for GC
    store.tag("audit-q1", s3)
    assert store.resolve("audit-q1") == s3
    store.tag("last-good", s1)
    store.untag("last-good")
    assert store.expire(keep_last=1) == [s1]
    with pytest.raises(SnapshotError):
        store.untag("last-good")
    with pytest.raises(SnapshotError):
        store.tag("bad/name")
    with pytest.raises(SnapshotError):
        store.tag("ok-name", "no-such-snapshot")
    with pytest.raises(SnapshotError):
        store.resolve("neither-tag-nor-id")


def test_read_cache_entries_go_with_their_session(spark, store):
    """The published-snapshot read memo is keyed by the session object, not
    its id(): a dropped session's entries are released with it (and a
    recycled id can never hit a dead session's DataFrame)."""
    import gc
    import weakref

    from pyspark import RDD

    from engine import snapstore

    _write_snapshot(store, _mk(spark, [("a", 1, 1.0)]))
    n0 = len(snapstore._READ_CACHE)
    to_df = RDD.toDF
    try:
        other = spark.newSession()
        assert store.read(other).count() == 1
        assert store.read(other).count() == 1  # memo hit, rewrapped for `other`
        assert len(snapstore._READ_CACHE) == n0 + 1
        ref = weakref.ref(other)
        del other
    finally:
        # newSession() re-points RDD.toDF at the new session, which pins it
        RDD.toDF = to_df
    gc.collect()
    assert ref() is None
    assert len(snapstore._READ_CACHE) == n0
