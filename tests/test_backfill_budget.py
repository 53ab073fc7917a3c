"""Budgeted backfill (round-4 session 8): `run(budget=K)` bounds every
stage to its K oldest pending partitions; repeated budgeted runs converge
to the exact state of one unbudgeted run. This is the 10^12-turn backfill
shape — bounded, crash-recoverable increments — so the tests pin:

1. convergence: N budgeted runs == 1 unbudgeted run, bit-exact on all
   four tables (plain mode and snapshot mode);
2. the reconcile-pointer hazard: in snapshot mode a stage that deferred
   work must NOT advance its changelog-pruning pointer, or the deferred
   keys would be pruned out of the next run's work manifest forever;
3. oldest-first order and the per-run stage caps;
4. late data after a completed budgeted backfill still re-rolls.
"""

import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

SORT_KEYS = {
    "hourly": ["conv_id", "bucket_start"],
    "daily": ["conv_id", "bucket_start"],
    "monthly": ["conv_id", "bucket_start"],
    "chunks": ["conv_id", "metric", "chunk_start"],
}


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=60, hot_turns=500)
    df.cache().count()
    return df


def _table(pipe, name):
    df = pipe.read_table(name).toPandas()
    return df.sort_values(SORT_KEYS[name], ignore_index=True)


def _assert_same_tables(a: TierPipeline, b: TierPipeline):
    for name in TierPipeline.TABLE_NAMES:
        ta, tb = _table(a, name), _table(b, name)
        pd.testing.assert_frame_equal(tb[ta.columns], ta, check_like=False)


def test_budget_invalid(spark, tmp_path, t0):
    pipe = TierPipeline(spark, str(tmp_path / "bad"), lease=False)
    with pytest.raises(ValueError):
        pipe.run(t0, budget=0)


def _converges_plain(spark, tmp_path, t0):
    full = TierPipeline(spark, str(tmp_path / "full"), lease=False)
    full.run(t0)
    n_days = full.read_tier("hourly").select("bucket_date").distinct().count()
    assert n_days >= 3, "fixture must span enough days to truncate"

    budget = 2
    inc = TierPipeline(spark, str(tmp_path / "inc"), lease=False)
    results = inc.run_until_complete(t0, budget=budget)
    assert len(results) > 1, "budget must actually defer work"
    # every increment respects the cap and reports its deferral
    for res in results[:-1]:
        assert res["left"], "non-final increment must report deferred work"
        for stage, n in res["stages"].items():
            if isinstance(n, int):
                assert n <= budget
    assert results[-1]["left"] == {}
    _assert_same_tables(full, inc)


def test_budget_oldest_first(spark, tmp_path, t0):
    pipe = TierPipeline(spark, str(tmp_path / "oldest"), lease=False)
    res = pipe.run(t0, budget=1)
    assert res["stages"]["hourly"] == 1 and res["left"]["hourly"] >= 1
    built = [
        r["bucket_date"]
        for r in pipe.read_tier("hourly").select("bucket_date").distinct().collect()
    ]
    oldest = t0.agg(F.min(F.to_date("ts"))).first()[0]
    assert built == [oldest]


def _snapshot_mode_and_late_data(spark, tmp_path, t0):
    """Snapshot mode is where the reconcile-pointer hazard lives: the
    changelog-pruned work manifests diff against a per-stage pointer that
    a truncated batch must not advance. A wrong pointer shows up here as
    either non-convergence (RuntimeError from run_until_complete) or a
    table mismatch vs the unbudgeted twin."""
    full = TierPipeline(spark, str(tmp_path / "sfull"), snapshots=True, lease=False)
    full.run(t0)

    inc = TierPipeline(spark, str(tmp_path / "sinc"), snapshots=True, lease=False)
    results = inc.run_until_complete(t0, budget=2, max_runs=50)
    assert len(results) > 1
    _assert_same_tables(full, inc)

    # late data lands on one mid-range day: both roots re-roll it (the
    # budgeted root within budget) and stay identical
    mid_day = sorted(
        r["bucket_date"]
        for r in full.read_tier("hourly").select("bucket_date").distinct().collect()
    )[1]
    late = t0.limit(50).withColumns(
        {
            "ts": F.to_timestamp(F.lit(f"{mid_day} 03:00:00")),
            "turn_idx": F.col("turn_idx") + 1_000_000,
        }
    )
    t0_late = t0.unionByName(late)
    full.run(t0_late)
    results2 = inc.run_until_complete(t0_late, budget=2, max_runs=50)
    assert results2[-1]["left"] == {}
    _assert_same_tables(full, inc)


def _under_wap(spark, tmp_path, t0):
    """Each budgeted increment is its own write-audit-publish cycle: the
    loop converges to the plain twin with every table gaining one
    published snapshot per sealed increment."""
    full = TierPipeline(
        spark, str(tmp_path / "wfull"), snapshots=True, lease=False
    )
    full.run(t0)
    inc = TierPipeline(
        spark, str(tmp_path / "winc"), snapshots=True, wap=True, lease=False
    )
    results = inc.run_until_complete(t0, budget=2, max_runs=50)
    assert len(results) > 1
    _assert_same_tables(full, inc)


def _wap_veto_preserves_published_prefix(spark, tmp_path, t0):
    """An audit veto on increment 2 must leave increment 1's published
    prefix (tables AND manifest) untouched; removing the veto completes
    the backfill to the exact unbudgeted state."""
    root = str(tmp_path / "wveto")
    pipe = TierPipeline(spark, root, snapshots=True, wap=True, lease=False)
    r1 = pipe.run(t0, budget=2)
    assert r1["left"], "first increment must leave work pending"
    before = {n: _table(pipe, n) for n in TierPipeline.TABLE_NAMES}
    n_manifest = pipe.manifest.read().count()

    class Veto(RuntimeError):
        pass

    def audit(p):
        raise Veto("gate failed")

    vetoed = TierPipeline(
        spark, root, snapshots=True, wap=True, wap_audit=audit, lease=False
    )
    with pytest.raises(Veto):
        vetoed.run(t0, budget=2)
    for n in TierPipeline.TABLE_NAMES:
        pd.testing.assert_frame_equal(_table(pipe, n), before[n])
    assert pipe.manifest.read().count() == n_manifest

    ok = TierPipeline(spark, root, snapshots=True, wap=True, lease=False)
    ok.run_until_complete(t0, budget=2, max_runs=50)
    full = TierPipeline(
        spark, str(tmp_path / "wfull2"), snapshots=True, lease=False
    )
    full.run(t0)
    _assert_same_tables(full, ok)


# The four backfills above are ~25 small budgeted runs each, and a small
# run's wall time is mostly driver-side planning and job latency rather
# than tasks. On a few cores they overlap well, so the module starts all
# four at once (each on its own roots); each test waits for its own and
# re-raises whatever it raised.
_BACKFILLS = {
    "plain": _converges_plain,
    "snapshot": _snapshot_mode_and_late_data,
    "wap": _under_wap,
    "veto": _wap_veto_preserves_published_prefix,
}


@pytest.fixture(scope="module")
def backfills(spark, tmp_path_factory, t0):
    ex = ThreadPoolExecutor(max_workers=len(_BACKFILLS))
    futures = {
        name: ex.submit(fn, spark, tmp_path_factory.mktemp(name), t0)
        for name, fn in _BACKFILLS.items()
    }
    yield futures
    ex.shutdown(wait=True)


def test_budgeted_backfill_converges_plain(backfills):
    backfills["plain"].result()


def test_budgeted_backfill_snapshot_mode_and_late_data(backfills):
    backfills["snapshot"].result()


def test_budgeted_backfill_under_wap(backfills):
    backfills["wap"].result()


def test_budgeted_wap_veto_preserves_published_prefix(backfills):
    backfills["veto"].result()
