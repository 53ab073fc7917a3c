#!/usr/bin/env python3
"""Dump the executed plans and output schemas of the hourly leaf rollup,
with expression ids (`#123`), lambda variable ids (`x_12`), exchange plan
ids, and the query-stage and codegen-stage ids of the adaptive plan (they
follow the order in which stages finish) normalised, so two checkouts of
the engine can be diffed.

Usage: python scripts/leaf_plans.py <outdir> <suffix> [engine_checkout]
       e.g. python scripts/leaf_plans.py plans/leaf after
            python scripts/leaf_plans.py plans/leaf before /tmp/old_checkout
Writes <outdir>/<case>_<suffix>.txt: the plan before execution, the final
adaptive plan after one collect(), and the schema; and
<outdir>/all_families_tiers_<suffix>.txt: the hourly, daily and monthly
schemas of build_tiers with every state family enabled, and the monthly
tier's optimized logical plan (it holds every family's leaf and both
merges, with the merge expressions in full). The input is a fixed
synthetic transcript table (engine.synth, 40 conversations).
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: every tier-state family at once; the Σxy pair sorts before the Σx²
#: column, so the joint Σx²/Σxy merge order shows in the schema
ALL_FAMILIES = dict(
    sketch_cols=["tool", "role"],
    hist_cols={"token_count": (0.0, 50.0, 8)},
    firstlast_cols=["role", "tool"],
    sumsq_cols=["token_count"],
    sumprod_cols=[("is_tool", "token_count")],
    freq_cols=["tool"],
    hh_cols={"role": 4},
    kmv_cols={"tool": 8},
    session_gaps=[30],
    statedur_cols=["role"],
    twa_cols=["token_count"],
    qsk_cols=["token_count"],
    topn_cols={"token_count": 3},
    botn_cols={"token_count": 2},
)


def _norm(plan: str) -> str:
    plan = re.sub(r"\b([xyz])_\d+", r"\1_N", plan)
    plan = re.sub(r"QueryStage \d+", "QueryStage N", plan)
    plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+L?", "#N", plan))


def main():
    outdir, suffix = sys.argv[1], sys.argv[2]
    sys.path.insert(0, os.path.abspath(sys.argv[3]) if len(sys.argv) > 3 else REPO)
    os.makedirs(outdir, exist_ok=True)
    from engine.bucket import dedup_turns, mask_valid
    from engine.rollup import build_tiers, rollup_hourly
    from engine.session import get_spark
    from engine.skew import rollup_hourly_salted
    from engine.synth import synth_transcripts

    spark = get_spark(
        app_name="leaf-plans", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.debug.maxToStringFields": "1000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = synth_transcripts(spark, n_convs=40, hot_turns=300, partitions=2)
    t0 = spark.createDataFrame(t0.toPandas(), t0.schema)
    cases = {
        # the benchmark's skew.hourly kernel (perfbench/layers.py)
        "backfill_leaf": lambda: rollup_hourly_salted(
            dedup_turns(mask_valid(t0)), 16, freq_cols=["tool"]
        ),
        "plain_leaf": lambda: rollup_hourly(t0, freq_cols=["tool"]),
        "salted_partials_leaf": lambda: rollup_hourly_salted(
            t0, 8, sketch_cols=["tool", "role"],
            hist_cols={"token_count": (0.0, 50.0, 4)},
            firstlast_cols=["role"], sumsq_cols=["token_count"],
            sumprod_cols=[("token_count", "is_tool")],
        ),
        "all_families_leaf": lambda: rollup_hourly_salted(t0, 8, **ALL_FAMILIES),
    }
    for name, build in cases.items():
        df = build()
        qe = df._jdf.queryExecution()
        pre = _norm(qe.executedPlan().toString())
        df.collect()
        post = _norm(qe.executedPlan().toString())
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== plan ==\n{pre}\n== final plan ==\n{post}\n")
            f.write(f"== schema ==\n{df.schema.simpleString()}\n")
        print("wrote", path)
    tiers = build_tiers(t0, n_salts=8, **ALL_FAMILIES)
    path = os.path.join(outdir, f"all_families_tiers_{suffix}.txt")
    with open(path, "w") as f:
        for tier, df in tiers.items():
            f.write(f"{tier}: {df.schema.simpleString()}\n")
        plan = tiers["monthly"]._jdf.queryExecution().optimizedPlan().toString()
        f.write(f"== monthly plan ==\n{_norm(plan)}\n")
    print("wrote", path)


if __name__ == "__main__":
    main()
