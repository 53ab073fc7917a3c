#!/usr/bin/env python3
"""Dump the executed plans and output schemas of the hourly leaf rollup,
with expression ids (`#123`) and exchange plan ids normalised, so two
checkouts of the engine can be diffed.

Usage: python scripts/leaf_plans.py <outdir> <suffix> [engine_checkout]
       e.g. python scripts/leaf_plans.py plans/leaf after
            python scripts/leaf_plans.py plans/leaf before /tmp/old_checkout
Writes <outdir>/<case>_<suffix>.txt: the plan before execution, the final
adaptive plan after one collect(), and the schema. The input is a fixed
synthetic transcript table (engine.synth, 40 conversations).
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm(plan: str) -> str:
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+L?", "#N", plan))


def main():
    outdir, suffix = sys.argv[1], sys.argv[2]
    sys.path.insert(0, os.path.abspath(sys.argv[3]) if len(sys.argv) > 3 else REPO)
    os.makedirs(outdir, exist_ok=True)
    from engine.bucket import dedup_turns, mask_valid
    from engine.rollup import rollup_hourly
    from engine.session import get_spark
    from engine.skew import rollup_hourly_salted
    from engine.synth import synth_transcripts

    spark = get_spark(
        app_name="leaf-plans", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
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


if __name__ == "__main__":
    main()
