"""Subprocess driver for task-retry fault injection.

Runs in its OWN JVM with ``master=local[8,3]`` (3 task attempts — the
local-mode spelling of ``spark.task.maxFailures``; the shared test session
runs plain ``local[N]`` where the FIRST task failure kills the job, so
retry behavior is untestable there). Injects a deterministic first-attempt
task failure via TaskContext.attemptNumber() at two points of the q43/q44
dedup pipeline — the document scan stage and the verified-pair stage
feeding connected components — plus the incremental-exact ledger path, and
asserts every result is IDENTICAL to the clean run. Prints ONE JSON line;
tests/test_fault_tolerance.py parses it.

Why this matters at 100 TB: on a 1000-executor cluster task retries are
routine (spot loss, shuffle-fetch failures). The engine's claims —
localCheckpoint discipline in dup_groups, digest-ledger determinism —
must hold under retry, not just on a clean local run (VERDICT r13 item 3).
"""

from __future__ import annotations

import json
import os
import sys

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# get_spark pins master=local[cpus] only when SPARK_MASTER is absent; set
# it so the retry-enabled master (extra_conf below) is the one that sticks
os.environ["SPARK_MASTER"] = "local[8,3]"

from pyspark import TaskContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from nexgap_spark.operators import dedup  # noqa: E402
from nexgap_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = os.environ.get("NEXGAP_FAULT_SF_DIR", "/root/testdata/sf0.001")
# accumulator updates from FAILED task attempts are dropped by Spark, so
# the injection firing is recorded through a filesystem side-channel the
# driver reads afterwards (local mode: same machine by construction)
FIRE_LOG = os.environ.get("NEXGAP_FAULT_FIRELOG", "/tmp/nexgap_fault_fires.log")


def flaky(df):
    """First attempt of partition 0 of the stage executing this node
    raises; the retry (attempt 1) succeeds."""
    schema = df.schema
    fire_log = FIRE_LOG

    def gen(it):
        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            with open(fire_log, "a") as f:
                f.write(f"{tc.stageId()}:{tc.partitionId()}\n")
            raise RuntimeError("injected task failure (fault test)")
        yield from it

    return df.mapInPandas(gen, schema)


def main() -> int:
    spark = get_spark(
        "nexgap_fault_tolerance",
        cpus=8,
        extra_conf={"spark.master": "local[8,3]"},
    )
    assert spark.sparkContext.master == "local[8,3]", spark.sparkContext.master
    if os.path.exists(FIRE_LOG):
        os.remove(FIRE_LOG)

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .repartition(8)
    )

    def pipeline(docs_df, *, flaky_pairs=False):
        sh = dedup.shingle_table(docs_df)
        near = dedup.near_dup_pairs(sh)
        if flaky_pairs:
            near = flaky(near)
        groups = dedup.dup_groups(near).select(F.col("n").alias("doc_id"), "group_id")
        sizes = groups.groupBy("group_id").agg(F.count("*").alias("group_size"))
        membership = groups.join(sizes, "group_id")
        corpus = dedup.dedup_corpus_join(docs_df, membership)
        return (
            sorted(tuple(r) for r in groups.collect()),
            sorted((r["doc_id"], r["group_size"]) for r in corpus.collect()),
        )

    verdict: dict = {}

    # clean reference run
    want_groups, want_corpus = pipeline(docs)
    verdict["n_groups_rows"] = len(want_groups)
    verdict["n_corpus_rows"] = len(want_corpus)

    # scenario 1: failure in the SCAN stage feeding the whole pipeline
    g1, c1 = pipeline(flaky(docs))
    verdict["scan_stage_retry_equal"] = (g1 == want_groups) and (c1 == want_corpus)

    # scenario 2: failure in the verified-pair stage feeding CC's edge
    # checkpoint (the localCheckpoint-discipline claim)
    g2, c2 = pipeline(docs, flaky_pairs=True)
    verdict["pair_stage_retry_equal"] = (g2 == want_groups) and (c2 == want_corpus)

    # scenario 3: incremental exact dedup vs a digest ledger, batch input
    # flaky — fresh/ledger outputs must match the clean run
    seen = spark.createDataFrame(
        [("d41d8cd98f00b204e9800998ecf8427e",)], "digest string"
    )
    fresh_w, led_w = dedup.incremental_exact(docs, seen)
    want_fresh = sorted(r["doc_id"] for r in fresh_w.select("doc_id").collect())
    want_led = sorted(r["digest"] for r in led_w.select("digest").collect())
    fresh_f, led_f = dedup.incremental_exact(flaky(docs), seen)
    got_fresh = sorted(r["doc_id"] for r in fresh_f.select("doc_id").collect())
    got_led = sorted(r["digest"] for r in led_f.select("digest").collect())
    verdict["incremental_retry_equal"] = (got_fresh == want_fresh) and (
        got_led == want_led
    )

    fires = 0
    if os.path.exists(FIRE_LOG):
        with open(FIRE_LOG) as f:
            fires = len(f.read().splitlines())
    verdict["injected_failures_fired"] = fires
    verdict["ok"] = bool(
        verdict["scan_stage_retry_equal"]
        and verdict["pair_stage_retry_equal"]
        and verdict["incremental_retry_equal"]
        and fires >= 3
        and verdict["n_groups_rows"] > 0
    )
    print(json.dumps(verdict), flush=True)
    return 0 if verdict["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
