"""Self-test of the benchmark: each workload passes its checks at toy size,
and a deliberately corrupted answer is counted as failed.

    python3 perfbench/selftest.py

Makes five toy-sized runs (one to two minutes each), each in its own
process: each workload clean and with one answer corrupted, and one traced
backfill_cold, whose layer probe checks the late-mutation steps. Exits
non-zero on the first expectation that does not hold.
"""

from __future__ import annotations

import multiprocessing
import shutil
import sys

import numpy as np

import gen
import run

#: toy serving roots are built apart from the real one, and removed after
CACHE = run.REPO / ".perfbench_work" / "selftest-cache"
TOY = {
    "backfill_cold": gen.Shape(turns=5000, span_days=3, n_convs=80),
    "serve_mixed": gen.Shape(turns=3000, span_days=35, n_convs=60),
}


def corrupt_first(pdf):
    """Add one to the first row's first integer column, once per process."""
    cols = [c for c in pdf.columns if np.issubdtype(pdf[c].dtype, np.integer)]
    if getattr(corrupt_first, "done", False) or pdf.empty or not cols:
        return pdf
    corrupt_first.done = True
    out = pdf.copy()
    out.loc[out.index[0], cols[0]] += 1
    return out


def one(workload: str, corrupt: bool, traced: bool) -> dict:
    """One toy run. Each runs in a fresh interpreter: a run stops its JVM,
    and the engine's module-level UDFs stay bound to the JVM they first
    met."""
    run.CACHE = CACHE
    b = run.Bench(workload, seed=5, seconds=2, traced=traced, shape=TOY[workload])
    b.corrupt = corrupt_first if corrupt else None
    return run.measure(b)


def main() -> int:
    ctx = multiprocessing.get_context("spawn")
    try:
        runs = [(w, c, False) for w in TOY for c in (False, True)]
        for workload, corrupt, traced in runs + [("backfill_cold", False, True)]:
            with ctx.Pool(1) as pool:
                res = pool.apply(one, (workload, corrupt, traced))
            ok = (res["correct"], res["failed"] == 0) == (not corrupt, not corrupt)
            if traced:
                ok = ok and set(res["metrics"]) == set(run.layers.PER_LAYER)
            label = ("corrupted" if corrupt else "clean") + (" traced" if traced else "")
            print(f"{workload} {label}: {res['correct']=} {res['failed']=} "
                  f"{res['attempted']=} -> {'ok' if ok else 'WRONG'}", flush=True)
            if not ok or not res["attempted"]:
                return 1
        return 0
    finally:
        shutil.rmtree(CACHE, ignore_errors=True)
        if CACHE.parent.is_dir() and not any(CACHE.parent.iterdir()):
            CACHE.parent.rmdir()


if __name__ == "__main__":
    sys.exit(main())
