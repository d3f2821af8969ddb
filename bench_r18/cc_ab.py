#!/usr/bin/env python
"""Isolated CC-loop A/B + round-plan capture for the r18 bucketed edge
store. Run from either tree root (PYTHONPATH=$PWD):

  python bench_r18/cc_ab.py time            # 3 trials of dup_groups
  python bench_r18/cc_ab.py plan <outfile> [checkpoint|bucketed]
                                            # round-2 join executed plan

The synthetic graph is 2M chain pairs (500k chains of length 5, diameter 4
— several SMJ rounds), i.e. 4M symmetric edges: at dedup.CC_BUCKET_MIN_EDGES
(4M), so ``time`` runs the bucketed edge store. autoBroadcastJoinThreshold=-1
forces the at-scale regime where the label frame does NOT broadcast, which
is exactly where the per-round edge exchange lives. ``plan`` captures the
round join over either edge layout (default: bucketed).
"""
import sys
import time

from pyspark.sql import functions as F

from nexgap_spark.operators import dedup
from nexgap_spark.session import get_spark, materialize


def build_pairs(spark):
    p = (
        spark.range(2_500_000)
        .filter("id % 5 != 4")
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    return materialize(p)  # isolate the input build from the timed region


def main() -> None:
    mode = sys.argv[1]
    spark = get_spark("cc_ab")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    pairs = build_pairs(spark)
    if mode == "time":
        for trial in range(3):
            t0 = time.perf_counter()
            out = dedup.dup_groups(pairs)
            out.write.format("noop").mode("overwrite").save()
            print(
                f"[cc_ab] trial {trial}: {time.perf_counter() - t0:.3f}s "
                f"(gate={dedup.CC_BUCKET_MIN_EDGES})",
                flush=True,
            )
        return
    # plan mode: reproduce one loop round over the chosen edge layout and
    # dump the executed round-2 join plan
    sym = (
        pairs.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .unionByName(pairs.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .distinct()
    )
    edges = materialize(sym)
    cleanup = None
    if (sys.argv[3:] or ["bucketed"])[0] == "bucketed":
        edges, cleanup = dedup._bucketed_edge_store(edges)
    labels = materialize(
        edges.groupBy("n")
        .agg(F.min("m").alias("_mm"))
        .select("n", F.least(F.col("n"), F.col("_mm")).alias("label"))
    )
    neigh = (
        edges.join(labels.withColumnRenamed("n", "m"), "m")
        .select("n", "label", F.lit(None).alias("own"))
        .unionByName(labels.withColumn("own", F.col("label")))
        .groupBy("n")
        .agg(F.min("label").alias("label"), F.max("own").alias("own"))
    )
    neigh.write.format("noop").mode("overwrite").save()
    txt = neigh._jdf.queryExecution().executedPlan().toString()
    with open(sys.argv[2], "w") as f:
        f.write(txt)
    print(f"wrote {sys.argv[2]} ({len(txt)} chars)")
    if cleanup is not None:
        cleanup()


if __name__ == "__main__":
    main()
