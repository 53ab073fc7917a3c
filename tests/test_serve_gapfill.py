"""Gap-fill served on read (`TierEngine.serve_gapfill`).

The pipeline used to materialize every filled series into a conv-bucket
keyed `gapfill` table. `serve_gapfill(lo, hi)` now fills at read time: the
`gapfill` kernel over each whole series (hourly tier rows, chunk decode for
retention-dropped days), clipped to the range. Pinned here, for both fill
methods:

- row-for-row equality with the table the materializing pipeline wrote
  (goldens under tests/data/serve_gapfill/, one parquet file per fill
  method and root state, written by that pipeline from `_transcripts`);
- equality with the in-tree oracle: the `gapfill` kernel run over the
  full-span series, clipped to the range;
- both hold on 24 seeded ranges (including one wholly inside a gap and
  ranges cutting through a series' first or last hour), after
  `drop_hourly_before`, after `forget`, and after the daily tier's oldest
  days are dropped too (the table outlived a daily drop unchanged, so the
  served fill must as well).
"""

from __future__ import annotations

import os
import random
import sys
from datetime import datetime, timedelta
from functools import reduce
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.bucket import T0_SCHEMA  # noqa: E402
from engine.gapfill import SERIES_SCHEMA, gapfill  # noqa: E402

GOLDEN = Path(__file__).resolve().parent / "data" / "serve_gapfill"
COLS = [f.name for f in SERIES_SCHEMA.fields]
KEY = ["conv_id", "metric", "bucket_start"]
BASE = datetime(2026, 3, 1)
#: retention cutoffs (hourly, daily) and erased conversations of the
#: lifecycle below
CUTOFF = "2026-03-03"
DAILY_CUTOFF = "2026-03-05"
FORGET = ["g03", "g07"]
#: fill method -> engine options of its root (one snapshot, one plain root)
ROOTS = {
    "locf": dict(fill_method="locf", snapshots=True, salted=True, lease=False),
    "linear": dict(fill_method="linear", lease=False),
}


def transcript_rows(seed: int = 4242) -> list[tuple]:
    """Deterministic T0 rows: 12 conversations of 2-5 bursts over about a
    week, with gaps of hours to days between bursts, and whole bursts whose
    text is null (their hours have a null `token_count_mean`)."""
    rng = random.Random(seed)
    rows = []
    for c in range(12):
        t = BASE + timedelta(minutes=rng.randrange(0, 900))
        idx = 0
        for _ in range(rng.randrange(2, 6)):
            quiet = rng.random() < 0.2
            for _ in range(rng.randrange(2, 22)):
                text = None if quiet else "w" * rng.randrange(1, 300)
                tool = rng.choice([None, None, "search", "exec"])
                role = "user" if idx % 2 == 0 else "assistant"
                rows.append((f"g{c:02d}", idx, role, text, tool, t))
                idx += 1
                t += timedelta(seconds=rng.randrange(20, 1800))
            t += timedelta(hours=rng.choice([2, 5, 9, 26, 40, 70]))
    return rows


def _transcripts(spark):
    return spark.createDataFrame(transcript_rows(), T0_SCHEMA)


def _golden(method: str, state: str) -> pd.DataFrame:
    pdf = pd.read_parquet(GOLDEN / f"{method}_{state}.parquet")
    return _canon(pdf)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[COLS].copy()
    pdf["bucket_start"] = pdf["bucket_start"].astype("datetime64[us]")
    pdf["fill_method"] = pdf["fill_method"].astype(object).where(
        pdf["fill_method"].notna(), None
    )
    return pdf.sort_values(KEY, ignore_index=True)


def _clip(pdf: pd.DataFrame, lo: datetime, hi: datetime) -> pd.DataFrame:
    m = (pdf["bucket_start"] >= pd.Timestamp(lo)) & (
        pdf["bucket_start"] < pd.Timestamp(hi)
    )
    return pdf[m].reset_index(drop=True)


def _assert_same(got: pd.DataFrame, exp: pd.DataFrame, what: str) -> None:
    assert len(got) == len(exp), f"{what}: {len(got)} rows, expected {len(exp)}"
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), exp.reset_index(drop=True),
        check_exact=True, obj=what,
    )


def _ranges(obs: pd.DataFrame) -> list[tuple[datetime, datetime]]:
    """24 hour-aligned ranges: 18 seeded ones over the whole span (a day
    beyond each end included), one wholly inside a conversation's longest
    gap, and five that cut through a series' first or last hour."""
    rng = random.Random(7)
    span_lo = obs["bucket_start"].min().to_pydatetime() - timedelta(days=1)
    n_hours = int(
        (obs["bucket_start"].max() - obs["bucket_start"].min())
        / pd.Timedelta(hours=1)
    ) + 48
    out = []
    for _ in range(18):
        a = rng.randrange(0, n_hours)
        b = a + rng.choice([1, 3, 8, 24, 30, 60, 100])
        out.append(
            (span_lo + timedelta(hours=a), span_lo + timedelta(hours=b))
        )
    # the longest silence of any conversation: a range strictly inside it
    hours = obs[["conv_id", "bucket_start"]].drop_duplicates()
    hours = hours.sort_values(["conv_id", "bucket_start"])
    hours["gap"] = hours.groupby("conv_id")["bucket_start"].diff()
    g = hours.loc[hours["gap"].idxmax()]
    gap_end = g["bucket_start"].to_pydatetime()
    gap_start = gap_end - g["gap"].to_pytimedelta()
    assert g["gap"] >= pd.Timedelta(hours=8)
    out.append((gap_start + timedelta(hours=2), gap_end - timedelta(hours=2)))
    # through a series' first / last observed hour
    first = obs.groupby("conv_id")["bucket_start"].min()
    last = obs.groupby("conv_id")["bucket_start"].max()
    for conv in ("g01", "g05", "g09"):
        f = first[conv].to_pydatetime()
        out.append((f, f + timedelta(hours=5)))
    for conv in ("g02", "g10"):
        end = last[conv].to_pydatetime()
        out.append((end - timedelta(hours=6), end + timedelta(hours=1)))
    return out


def _observed(eng) -> pd.DataFrame:
    """The full-span observed series, retention-surviving (hourly rows plus
    chunk decode for dropped days)."""
    return eng.serve_series(
        datetime(2000, 1, 1), datetime(2100, 1, 1)
    ).toPandas()


def _oracle(spark, eng, obs: pd.DataFrame) -> pd.DataFrame:
    """The in-tree oracle: the gap-fill kernel over the full-span series
    (pandas holds its null values as NaN; they go back to null)."""
    sdf = spark.createDataFrame(
        obs[["conv_id", "bucket_start", "metric", "value"]],
        "conv_id string, bucket_start timestamp_ntz, metric string, value double",
    ).withColumn("value", F.when(~F.isnan("value"), F.col("value")))
    return _canon(gapfill(sdf, eng.pipeline.fill_method).toPandas())


def _check_ranges(spark, eng, method: str, state: str) -> None:
    golden = _golden(method, state)
    obs = _observed(eng)
    oracle = _oracle(spark, eng, obs)
    _assert_same(oracle, golden, f"{method}/{state}: full-span oracle")
    ranges = _ranges(obs)
    assert len(ranges) >= 20
    # one collect for every range (each serve_gapfill is its own plan)
    served = reduce(
        lambda a, b: a.unionByName(b),
        [
            eng.serve_gapfill(lo, hi).withColumn("_range", F.lit(i))
            for i, (lo, hi) in enumerate(ranges)
        ],
    ).toPandas()
    assert len(served) > 0
    for i, (lo, hi) in enumerate(ranges):
        got = _canon(served[served["_range"] == i])
        what = f"{method}/{state} [{lo}, {hi})"
        _assert_same(got, _clip(golden, lo, hi), what)
        _assert_same(got, _clip(oracle, lo, hi), what + " vs oracle")


@pytest.fixture(scope="module", params=sorted(ROOTS))
def lifecycle(request, spark, tmp_path_factory):
    from engine.api import TierEngine

    method = request.param
    root = str(tmp_path_factory.mktemp(f"gapfill_{method}") / "root")
    eng = TierEngine(spark, root, **ROOTS[method])
    t0 = _transcripts(spark).localCheckpoint()
    eng.run(t0)
    return method, eng, t0


def test_serve_gapfill_lifecycle(spark, lifecycle):
    method, eng, t0 = lifecycle
    assert not os.path.exists(os.path.join(eng.root, "gapfill"))
    _check_ranges(spark, eng, method, "base")

    dropped = eng.drop_hourly_before(CUTOFF)
    assert dropped, "retention must drop hourly days"
    _check_ranges(spark, eng, method, "dropped")

    eng.forget(FORGET, t0=t0)
    _check_ranges(spark, eng, method, "forgotten")

    from engine.retention import drop_daily_partitions, droppable_daily_days

    days = droppable_daily_days(eng.pipeline, DAILY_CUTOFF)
    assert drop_daily_partitions(eng.pipeline, days, run_id="rd") == days
    assert days[0] < CUTOFF < days[-1], days
    _check_ranges(spark, eng, method, "forgotten")


def test_metrics_filter_and_gap_range(spark, lifecycle):
    """The metrics filter keeps exactly that metric's rows, and a range
    with no observation inside it is served wholly from context."""
    method, eng, _ = lifecycle
    obs = _observed(eng)
    lo, hi = _ranges(obs)[18]  # the one inside the longest gap
    inside = obs[
        (obs["bucket_start"] >= pd.Timestamp(lo))
        & (obs["bucket_start"] < pd.Timestamp(hi))
    ]
    both = _canon(eng.serve_gapfill(lo, hi).toPandas())
    gap_convs = set(both["conv_id"]) - set(inside["conv_id"])
    assert gap_convs, "some series must be filled across the whole range"
    assert both[both["conv_id"].isin(gap_convs)]["filled"].all()
    one = _canon(eng.serve_gapfill(lo, hi, metrics=["tool_rate"]).toPandas())
    _assert_same(
        one, both[both["metric"] == "tool_rate"], f"{method} metrics filter"
    )


def test_root_with_gapfill_table_migrates(spark, tmp_path):
    """A root written while gap-fill was a pipeline stage holds a `gapfill`
    snapshot table, its changelog pointer, `gapfill` manifest rows and a
    `table=gapfill` run-barrier row. A root written with the bucketed
    hourly mirror holds `tiers/hourly_bucketed`: a `_v/<ver>` parquet tree
    of observed hourly rows marked `_PUBLISHED`, a `_CURRENT` pointer to
    it and `hourly_bucketed` manifest rows. The next sealed run deletes
    both tables and the pointer and leaves the tiers as they were; the old
    run's barrier still reads (`read_consistent`) and rolls back. A forget
    without the raw input deletes retired tables too: the mirror holds
    copies of the erased conversations' hourly rows."""
    from engine.api import TierEngine
    from engine.forget import leftover_conversations
    from engine.gapfill import hourly_series
    from engine.pipeline import _conv_bucket
    from engine.rollup import observed_state
    from engine.snapstore import SnapStore

    root = str(tmp_path / "old")
    eng = TierEngine(spark, root, snapshots=True, lease=False)
    pipe = eng.pipeline
    t0 = _transcripts(spark).localCheckpoint()
    eng.run(t0, run_id="r1")

    store = SnapStore(os.path.join(root, "gapfill"))
    progress = os.path.join(root, "_progress", "gapfill.upstream")
    mirror = os.path.join(root, "tiers", "hourly_bucketed")
    mirror_ver = "00000000_0a1b2c3d"

    def plant():
        """The table and changelog pointer the gapfill stage left behind."""
        pipe._write_table(
            gapfill(hourly_series(observed_state(eng.tier("hourly"))))
            .withColumn("conv_bucket", _conv_bucket()),
            store.root,
            ["conv_bucket"],
        )
        with open(progress, "w") as f:
            f.write(SnapStore(pipe.tier_path("hourly")).current_id() + " ")
        return store.current_id()

    def plant_mirror():
        """The versioned mirror tree the bucketed mode left behind."""
        vpath = os.path.join(mirror, "_v", mirror_ver)
        observed_state(eng.tier("hourly")).write.parquet(vpath)
        open(os.path.join(vpath, "_PUBLISHED"), "w").close()
        with open(os.path.join(mirror, "_CURRENT"), "w") as f:
            f.write(mirror_ver)
        return spark.read.parquet(vpath)

    sid = plant()
    mirrored = plant_mirror()
    compress = pipe.manifest.read_pandas()
    compress = compress[compress["stage"] == "compress"]
    pipe.manifest.commit(
        [
            {
                "run_id": "r1",
                "stage": "gapfill",
                "partition_key": k,
                "rows_in": int(n),
                "lineage": "hourly",
                "input_snapshot_id": fp,
            }
            for k, n, fp in zip(
                compress["partition_key"], compress["rows_in"],
                compress["input_snapshot_id"],
            )
        ]
        + [
            {
                "run_id": "r1",
                "stage": "snapshot",
                "partition_key": "table=gapfill",
                "input_snapshot_id": sid,
                "output_snapshot_id": store.root,
                "lineage": "run-barrier",
            }
        ]
        + [
            {
                "run_id": "r1",
                "stage": "hourly_bucketed",
                "partition_key": "mirror=all",
                "rows_in": mirrored.count(),
                "rows_out": mirrored.count(),
                "lineage": "hourly",
                # work_manifest's rows_in:xor-hash:sum-hash fingerprint
                "input_snapshot_id": f"{mirrored.count()}:1:2",
                "output_snapshot_id": os.path.join(mirror, "_v", mirror_ver),
            }
        ]
    )

    def tables(views):
        keys = {"chunks": ["conv_id", "metric", "chunk_start"]}
        return {
            n: df.toPandas().sort_values(
                keys.get(n, ["conv_id", "bucket_start"]), ignore_index=True
            )
            for n, df in views.items()
        }

    r1 = tables(pipe.read_consistent("r1"))
    assert set(r1) == {"hourly", "daily", "monthly", "chunks"}

    res = eng.run(t0, run_id="r2")
    assert all(n == 0 for n in res["stages"].values()), res
    assert not os.path.exists(os.path.join(root, "gapfill"))
    assert not os.path.exists(progress)
    assert "gapfill" not in eng.status()["snapshots"]
    assert sorted(os.listdir(os.path.join(root, "tiers"))) == [
        "daily", "hourly", "monthly"
    ]
    now = tables({n: pipe.read_table(n) for n in pipe.TABLE_NAMES})
    for n, df in tables(pipe.read_consistent("r1")).items():
        pd.testing.assert_frame_equal(df, r1[n], obj=f"r1 {n}")
        pd.testing.assert_frame_equal(now[n], r1[n], obj=f"r2 {n}")

    assert set(pipe.rollback_run("r1")) == {"hourly", "daily", "monthly", "chunks"}
    assert not os.path.exists(os.path.join(root, "gapfill"))
    assert not os.path.exists(mirror)

    # an erasure without the raw input (no run, so no seal) still removes
    # retired tables with every erased conversation's rows in them
    plant()
    assert plant_mirror().filter(F.col("conv_id").isin(FORGET)).count() > 0
    assert os.path.exists(os.path.join(root, "gapfill"))
    eng.forget(FORGET)
    assert not os.path.exists(os.path.join(root, "gapfill"))
    assert not os.path.exists(progress)
    assert not os.path.exists(mirror)
    assert leftover_conversations(pipe) == {n: 0 for n in pipe.TABLE_NAMES}
