"""A crash at any commit point of a write-side operation resumes to the
state of a clean run.

Every file commit goes through `engine.io.atomic_write` (one
`os.replace`), and every directory publish is one `os.rename`, so those
two calls are the operations' only commit points. For each operation, one
clean run on a copy of a cold-run root is watched: at its k-th such call,
for every k, the root is copied as it stands, which is the tree a kill at
that call leaves (a file source is torn to half in the copy, as a kill
mid-write would leave it, and the rename is missing). A fresh pipeline
then reruns the same operation on each copy, and the copy must match the
clean run's root:

- every table's sorted rows;
- the latest `input_snapshot_id` per (stage, partition_key) of every
  stage but the run barriers (whose ids name snapshots);
- `Manifest.read_pandas()` and every table's `clean_stale_staging()`
  succeed.

Covered: every k of a late `run()`, `drop_hourly_partitions`,
`compact_partition("hourly")`, and the tombstone append of
`forget_conversations`. Rows are read with pyarrow from each table's
published snapshot, so a crash point costs one resumed operation and no
extra Spark jobs.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.forget import forget_conversations  # noqa: E402
from engine.pipeline import TierPipeline  # noqa: E402
from engine.retention import (  # noqa: E402
    compact_partition,
    drop_hourly_partitions,
    droppable_hourly_days,
)
from engine.snapstore import SnapStore  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

TIER_KEYS = ["conv_id", "bucket_start"]
CHUNK_KEYS = ["conv_id", "metric", "chunk_start"]


@pytest.fixture(scope="module")
def cold(spark, tmp_path_factory):
    """(t0, late input, a cold-run root); the root is only ever copied."""
    t0 = synth_transcripts(spark, n_convs=5, hot_turns=60).localCheckpoint()
    root = str(tmp_path_factory.mktemp("crash") / "cold")
    pipe = TierPipeline(spark, root, lease=False)
    pipe.run(t0, run_id="cold")
    day = sorted(
        r["bucket_date"]
        for r in pipe.read_tier("hourly").select("bucket_date").distinct().collect()
    )[1]
    late = t0.unionByName(
        t0.limit(10).withColumns(
            {
                "ts": F.to_timestamp(F.lit(f"{day} 05:00:00")),
                "turn_idx": F.col("turn_idx") + 10_000,
            }
        )
    ).localCheckpoint()
    return t0, late, root


def _rows(pipe, name: str) -> pd.DataFrame:
    store = SnapStore(pipe.table_path(name))
    df = (
        ds.dataset(
            store.snapshot_path(store.current_id()),
            format="parquet",
            partitioning="hive",
            ignore_prefixes=[".", "_", "meta.json"],
        )
        .to_table()
        .to_pandas()
    )
    keys = CHUNK_KEYS if "chunk_start" in df.columns else TIER_KEYS
    return df.reindex(sorted(df.columns), axis=1).sort_values(
        keys, ignore_index=True
    )


def _state(pipe) -> tuple[dict, dict]:
    rows = {name: _rows(pipe, name) for name in pipe.TABLE_NAMES}
    stages = set(pipe.manifest.read_pandas()["stage"]) - {"snapshot"}
    latest = {s: pipe.manifest.latest_map(s) for s in sorted(stages)}
    for name in pipe.TABLE_NAMES:
        pipe._store(pipe.table_path(name)).clean_stale_staging()
    return rows, latest


def _assert_same(got, want, where: str) -> None:
    rows, latest = got
    for name, df in want[0].items():
        pd.testing.assert_frame_equal(rows[name], df, obj=f"{where} {name}")
    assert latest == want[1], where


def _copy_live_tree(src: str, dst: str) -> None:
    """Copy `src` while a concurrent stage may still be writing under it.
    Spark writes only inside hidden staging dirs, which a resume sweeps;
    a file there that vanishes mid-copy is left out, one caught mid-write
    is copied torn, as a kill would leave both."""
    for dirpath, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for name in files:
            try:
                shutil.copyfile(os.path.join(dirpath, name), os.path.join(out, name))
            except FileNotFoundError:
                pass


def _commit_points(monkeypatch, root: str, frozen: Path, points) -> list:
    """Route os.replace/os.rename through a counter. Before the k-th call
    (k in `points`, or every k when None) renames, `root` is copied to
    `frozen/k<k>`, the call's file source torn to half in the copy: the
    tree a kill at that call leaves. Returns the calls' sources, in
    order."""
    calls: list = []
    lock = threading.Lock()
    real = {"replace": os.replace, "rename": os.rename}

    def hook(kind):
        def call(src, dst, *a, **kw):
            with lock:  # holds the other stage thread's commits meanwhile
                calls.append(src)
                k = len(calls)
                if points is None or k in points:
                    copy = str(frozen / f"k{k}")
                    _copy_live_tree(root, copy)
                    if os.path.isfile(src):
                        torn = os.path.join(copy, os.path.relpath(src, root))
                        os.truncate(torn, os.path.getsize(torn) // 2)
            return real[kind](src, dst, *a, **kw)

        return call

    for kind in real:
        monkeypatch.setattr(os, kind, hook(kind))
    return calls


def _check_every_crash_point(spark, cold, tmp_path, monkeypatch, op, points=None):
    """Clean run of `op(pipe)` on a copy of the cold root, frozen at each
    crash point; then `op` again on every frozen copy, compared."""
    _t0, _late, base = cold
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    frozen = tmp_path / "frozen"
    frozen.mkdir()
    with monkeypatch.context() as m:
        calls = _commit_points(m, clean, frozen, points)
        op(TierPipeline(spark, clean, lease=False))
    want = _state(TierPipeline(spark, clean, lease=False))
    points = points or range(1, len(calls) + 1)
    assert calls and len(points) <= len(calls)
    assert sorted(os.listdir(frozen)) == sorted(f"k{k}" for k in points)

    def resume(k):
        root = str(frozen / f"k{k}")
        try:
            op(TierPipeline(spark, root, lease=False))
            got = _state(TierPipeline(spark, root, lease=False))
        except Exception as exc:
            raise AssertionError(f"resume from k={k} ({calls[k - 1]})") from exc
        shutil.rmtree(root)
        return k, got

    # resumes of separate roots are independent; two at a time overlap
    # one's driver-side planning with the other's tasks
    with ThreadPoolExecutor(max_workers=2) as ex:
        for k, got in ex.map(resume, points):
            _assert_same(got, want, f"k={k}/{len(calls)} ({calls[k - 1]})")
    return calls


def test_late_run_resumes_from_every_crash_point(
    spark, cold, tmp_path, monkeypatch
):
    _t0, late, _base = cold
    calls = _check_every_crash_point(
        spark, cold, tmp_path, monkeypatch,
        lambda pipe: pipe.run(late, run_id="late"),
    )
    assert len(calls) >= 16


def test_hourly_drop_resumes_from_every_crash_point(
    spark, cold, tmp_path, monkeypatch
):
    days = droppable_hourly_days(
        TierPipeline(spark, cold[2], lease=False), "9999-12-31"
    )[:1]
    assert days
    _check_every_crash_point(
        spark, cold, tmp_path, monkeypatch,
        lambda pipe: drop_hourly_partitions(pipe, days, run_id="ret"),
    )


def test_hourly_compaction_resumes_from_every_crash_point(
    spark, cold, tmp_path, monkeypatch
):
    _check_every_crash_point(
        spark, cold, tmp_path, monkeypatch,
        lambda pipe: compact_partition(pipe, "hourly"),
    )


def test_forget_resumes_from_a_crashed_tombstone_append(
    spark, cold, tmp_path, monkeypatch
):
    t0, _late, _base = cold
    doomed = sorted(r["conv_id"] for r in t0.select("conv_id").distinct().collect())[0]
    calls = _check_every_crash_point(
        spark, cold, tmp_path, monkeypatch,
        lambda pipe: forget_conversations(pipe, [doomed], t0=t0, run_id="fgt"),
        points=[1],
    )
    assert "/_tombstones/" in calls[0]  # the append is forget's first commit
