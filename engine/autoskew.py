"""Measurement-driven skew dispatch: decide salted vs plain from the data.

The engine's salted operators are bit-identical to their plain forms —
the ONLY question is cost: salting buys hot-key parallelism with one
extra (fine-keyed) aggregation exchange, which is pure overhead on
uniform data. For the hourly tier the choice is one argument of the one
leaf, `rollup_hourly(n_salts=…)` (engine/rollup.py): an integer salts,
`None` does not, and both emit the same rows in the same schema; the
salted twins in engine/joins.py and engine/gapfill.py are separate
operators. The static `TierPipeline(salted=...)` flag makes the choice a
deploy-time guess; `salted='auto'` makes it a per-run measurement:

    probe:   sample the pending input (one cheap job over a fraction),
             count rows per key, scale by 1/fraction
    decide:  salt iff the hottest key is BOTH relatively skewed
             (max/mean ≥ ratio_threshold — a Zipf head, not noise) AND
             absolutely large (hot_est ≥ min_hot_rows — at toy volume even
             a 1000× skewed key fits one task; salting only pays when the
             hot key alone overflows a task's fair share)

Because both paths produce identical bytes, the decision never enters a
fingerprint — a root can flip between salted and plain across runs with
zero re-rolls, and the choice is reported per run (`scans['salt_auto']`)
rather than silently applied. This is the aggregation-side complement of
AQE's skew-join splitting: AQE re-plans a skewed JOIN at runtime from
shuffle stats; a two-phase salted AGG must be chosen before the first
exchange, so the engine measures first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: decision defaults: a key 32× the mean that holds ≥50k rows is a hot key
RATIO_THRESHOLD = 32.0
MIN_HOT_ROWS = 50_000
PROBE_FRACTION = 0.02


def skew_probe(
    df: DataFrame,
    keys=("conv_id",),
    frac: float = PROBE_FRACTION,
    seed: int = 7,
) -> dict:
    """One-job skew statistics over a `frac` Bernoulli sample of `df`:
    estimated rows of the hottest key (`hot_est`, scaled by 1/frac),
    max/mean ratio, and the sampled group count. O(sample) compute,
    nothing but a 1-row aggregate reaches the driver."""
    g = (
        df.sample(fraction=frac, seed=seed)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.max("c").alias("mx"),
            F.avg("c").alias("mean"),
            F.count(F.lit(1)).alias("groups"),
            F.sum("c").alias("n"),
        )
        .first()
    )
    if g is None or g["mx"] is None:
        return {"hot_est": 0, "ratio": 0.0, "groups": 0, "sampled_rows": 0}
    return {
        "hot_est": int(g["mx"] / frac),
        "ratio": float(g["mx"]) / float(g["mean"]),
        "groups": int(g["groups"]),
        "sampled_rows": int(g["n"]),
    }


def choose_salted(
    df: DataFrame,
    keys=("conv_id",),
    *,
    ratio_threshold: float = RATIO_THRESHOLD,
    min_hot_rows: int = MIN_HOT_ROWS,
    frac: float = PROBE_FRACTION,
    seed: int = 7,
) -> tuple[bool, dict]:
    """(use_salted, probe_stats) for this input. Salt only when the hot key
    is both relatively AND absolutely heavy — see module docstring."""
    st = skew_probe(df, keys, frac=frac, seed=seed)
    salted = st["ratio"] >= ratio_threshold and st["hot_est"] >= min_hot_rows
    return salted, st
