#!/usr/bin/env python
"""Isolated timing of the connected-components loop (``dedup.dup_groups``).
Run from a tree root (PYTHONPATH=$PWD):

  python bench_r18/cc_ab.py time            # 3 trials of dup_groups

The synthetic graph is 2M chain pairs (500k chains of length 5, diameter
4), i.e. 4M symmetric edges. autoBroadcastJoinThreshold=-1 forces the
at-scale regime where no side of a join broadcasts. Interleave runs of two
trees to A/B a change to the loop.
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
    if sys.argv[1:] != ["time"]:
        sys.exit(__doc__)
    spark = get_spark("cc_ab")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    pairs = build_pairs(spark)
    for trial in range(3):
        t0 = time.perf_counter()
        out = dedup.dup_groups(pairs)
        out.write.format("noop").mode("overwrite").save()
        print(f"[cc_ab] trial {trial}: {time.perf_counter() - t0:.3f}s", flush=True)


if __name__ == "__main__":
    main()
