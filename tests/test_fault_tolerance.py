"""Fault-tolerance tests (VERDICT r13 item 3): the 100 TB design claims —
localCheckpoint discipline in connected components, digest-ledger
determinism, epoch-commit idempotence in the streaming dedup sink — run
UNDER FAILURE, not just on clean paths.

Task-level retry needs ``spark.task.maxFailures > 1`` (a JVM-startup conf;
the shared session runs plain local[N] where one task failure kills the
job), so that half runs in a subprocess JVM via tests/fault_driver.py with
``master=local[8,3]``. The streaming half injects a driver-side crash
between the sink's two epoch writes and restarts from the checkpoint —
in-process, shared session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from nexgap_spark.streaming import pipeline as SP


def test_task_retry_equality_subprocess(tmp_path):
    """q43/q44 dedup pipeline + incremental ledger under injected
    first-attempt task failures (scan stage, pair stage, batch input):
    every result identical to the clean run, and the injections provably
    fired."""
    env = dict(
        os.environ,
        PYTHONPATH="/root/repo",
        NEXGAP_FAULT_FIRELOG=str(tmp_path / "fires.log"),
    )
    r = subprocess.run(
        [sys.executable, "tests/fault_driver.py"],
        cwd="/root/repo",
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    verdict = json.loads(r.stdout.strip().splitlines()[-1])
    assert verdict["scan_stage_retry_equal"], verdict
    assert verdict["pair_stage_retry_equal"], verdict
    assert verdict["incremental_retry_equal"], verdict
    assert verdict["injected_failures_fired"] >= 3, verdict
    assert verdict["n_groups_rows"] > 0 and verdict["n_corpus_rows"] > 0


def test_incremental_dedup_sink_survives_midepoch_crash(spark, tmp_path, monkeypatch):
    """Crash injected BETWEEN the sink's two epoch writes (out_dir epoch
    committed, ledger epoch not — the worst-case partial state), then
    restart from the checkpoint: the replayed epoch must produce NO
    duplicate survivors and the same ledger as a clean run."""
    in_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    ledger, ckpt = str(tmp_path / "ledger"), str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "alpha  BETA")], schema
    ).write.mode("append").parquet(in_dir)

    real_write = SP.epoch_write_json
    calls = {"n": 0}

    def crashing_write(batch, epoch_id, out_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            # first call wrote+committed the out_dir epoch; crash before
            # the ledger epoch lands
            raise RuntimeError("injected driver crash between epoch writes")
        return real_write(batch, epoch_id, out_dir)

    monkeypatch.setattr(SP, "epoch_write_json", crashing_write)
    q = SP.incremental_dedup_sink(
        spark.readStream.schema(schema).parquet(in_dir), out, ledger, ckpt
    )
    with pytest.raises(Exception, match="injected driver crash"):
        q.processAllAvailable()
    q.stop()
    assert calls["n"] == 2  # the crash fired exactly at the partial state

    # restart from the same checkpoint with the real writer
    monkeypatch.setattr(SP, "epoch_write_json", real_write)
    q2 = SP.incremental_dedup_sink(
        spark.readStream.schema(schema).parquet(in_dir), out, ledger, ckpt
    )
    q2.processAllAvailable()
    q2.stop()

    kept = [r.doc_id for r in spark.read.schema(schema).json(out + "/epoch=*").collect()]
    # no duplicate survivors across the committed epochs, content dedup
    # intact (doc 3 is a normalized dup of doc 1)
    assert sorted(kept) == [1, 2]
    digests = {
        r.digest for r in SP.read_committed_epochs(spark, ledger, "digest string").collect()
    }
    assert len(digests) == 2  # alpha-beta, gamma

    # a later batch replays nothing: new content passes, old content drops
    spark.createDataFrame([(20, "alpha beta"), (21, "delta")], schema).write.mode(
        "append"
    ).parquet(in_dir)
    q3 = SP.incremental_dedup_sink(
        spark.readStream.schema(schema).parquet(in_dir), out, ledger, ckpt
    )
    q3.processAllAvailable()
    q3.stop()
    kept = [r.doc_id for r in spark.read.schema(schema).json(out + "/epoch=*").collect()]
    assert sorted(kept) == [1, 2, 21]


def test_materialize_reliable_checkpoint_mode(spark, tmp_path):
    """session.materialize switches from localCheckpoint to a RELIABLE
    checkpoint whenever the context has a checkpoint dir — the one-line
    deployment decision that makes the CC loop survive executor loss
    (measured end-to-end by tools_cluster.py phase C/E vs D/F; CLUSTER.json
    pins the outcome). This test pins the switch itself: files land in the
    dir, results are identical, and the default path stays local.

    The checkpoint dir is a context-global, so it is restored via the
    internal setter afterwards — leaving it set would silently convert
    every later test's materialize into disk checkpoints."""
    import pyspark.sql.functions as F

    from nexgap_spark.operators.dedup import dup_groups
    from nexgap_spark.session import materialize

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    local = materialize(df)
    assert sorted(r.v for r in local.collect()) == [2 * i for i in range(10)]
    assert os.listdir(str(tmp_path)) == []

    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        rel = materialize(df)
        assert sorted(r.v for r in rel.collect()) == [2 * i for i in range(10)]
        walked = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert walked, "reliable checkpoint wrote no files"
        # the CC loop end-to-end under a checkpoint dir: same groups
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)], "a long, b long"
        )
        got = {(r.n, r.group_id) for r in dup_groups(pairs).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}
    finally:
        # restore the no-dir default (py4j: the Scala field is an Option)
        jsc = sc._jsc.sc()
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(jsc, "checkpointDir_$eq")(scala_none)
        assert sc.getCheckpointDir() is None


def test_materialize_generation_reaping(spark, tmp_path):
    """VERDICT r16 item 4 / ADVICE: in reliable mode, iterative loops must
    not leak one dead nexgap_mat_* directory per round. A MaterializeGen
    bounds live generations to ``keep`` (current + previous), and the CC
    loop over a CHAIN graph (diameter forces ~5 label rounds) finishes
    with a bounded directory count — not one per round — while the result
    stays correct and the returned frame stays readable."""
    import pyspark.sql.functions as F

    from nexgap_spark.operators.dedup import dup_groups
    from nexgap_spark.session import MaterializeGen, materialize

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck_reap")
    sc.setCheckpointDir(ckdir)

    def mat_dirs() -> list[str]:
        # setCheckpointDir nests a per-context UUID subdir — walk the tree
        return sorted(
            d
            for root, dirs, _ in os.walk(ckdir)
            for d in dirs
            if d.startswith("nexgap_mat_")
        )

    try:
        # direct handle contract: 5 materializations, ≤2 live dirs, the
        # live ones are exactly the handle's newest generations, the
        # newest frame still reads
        gen = MaterializeGen(keep=2)
        df = None
        for i in range(5):
            df = materialize(
                spark.range(10).withColumn("v", F.col("id") + i), gen=gen
            )
            assert len(mat_dirs()) <= 2, f"round {i}: {mat_dirs()}"
        assert len(gen.live_paths) == 2
        assert {os.path.basename(p) for p in gen.live_paths} == set(mat_dirs())
        assert df.count() == 10  # newest generation readable after reaping

        # CC loop end-to-end: chain 0-1-2-3-4-5-6-7 (several rounds) — dir
        # count stays bounded at 2 edge-list generations, and groups are
        # correct
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(7)], "a long, b long"
        )
        before = len(mat_dirs())
        got = {(r.n, r.group_id) for r in dup_groups(chain).collect()}
        assert got == {(i, 0) for i in range(8)}
        assert len(mat_dirs()) <= before + 3, (
            f"CC loop leaked materialize dirs: {mat_dirs()}"
        )
    finally:
        jsc = sc._jsc.sc()
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(jsc, "checkpointDir_$eq")(scala_none)
        assert sc.getCheckpointDir() is None


def test_materialize_nested_void_falls_back(spark, tmp_path):
    """ADVICE r16: the VOID guard must catch NESTED NullType (struct<x:void>,
    array<void>) — parquet rejects those mid-write; materialize falls back
    to the eager checkpoint instead."""
    import pyspark.sql.functions as F

    from nexgap_spark.session import _parquet_unsafe_schema, materialize

    sc = spark.sparkContext
    df = spark.range(3).withColumn(
        "s", F.struct(F.lit(None).alias("x"), F.col("id").alias("y"))
    )
    assert _parquet_unsafe_schema(df) is True
    flat = spark.range(3).withColumn("v", F.col("id") * 2)
    assert _parquet_unsafe_schema(flat) is False
    # duplicate names within one struct level are parquet-illegal too
    dup = spark.range(3).select(F.col("id").alias("a"), (F.col("id") + 1).alias("A"))
    assert _parquet_unsafe_schema(dup) is True

    ckdir = str(tmp_path / "ck_void")
    sc.setCheckpointDir(ckdir)
    try:
        out = materialize(df)  # would die in the parquet writer pre-fix
        assert out.count() == 3
    finally:
        jsc = sc._jsc.sc()
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(jsc, "checkpointDir_$eq")(scala_none)


def test_cluster_artifact_green():
    """The committed standalone-cluster measurement (tools_cluster.py,
    round 15) must stay green and complete: wire-shuffle hash equality on
    the heavy set, executor-kill recovery under reliable checkpoints, and
    the controlled localCheckpoint-loss negative."""
    path = os.path.join("/root/repo", "CLUSTER.json")
    if not os.path.exists(path):
        pytest.skip("CLUSTER.json not yet committed")
    with open(path) as f:
        rep = json.load(f)
    assert rep["ok"] is True
    assert rep["wire_shuffle_hashes_equal"] is True
    assert rep["wire_shuffle_mismatches"] == []
    assert len(rep["cluster"]["queries"]) >= 5
    kill = rep["exec_kill_reliable"]["kill"]
    assert kill["landed_mid_query"] and kill["replaced"]
    assert rep["exec_kill_reliable_ok"] is True
    demo_rel = rep["ckpt_demo_reliable"]["demo"]
    assert demo_rel["value"] == demo_rel["expected"]
    demo_loc = rep["ckpt_demo_local"]["demo"]
    assert "err" in demo_loc and "CHECKPOINT" in demo_loc["err"].upper()


def test_cluster_stream_artifact_green():
    """The committed cluster x streaming fault compose (tools_cluster_stream,
    round 16) must stay green and complete: the streaming dedup sink
    survives a mid-epoch executor kill AND a driver kill between ledger
    write and commit (checkpoint resume), and the RocksDB sessionizer
    under executor kill equals the batch twin — all hash-gated against
    the clean local run."""
    path = os.path.join("/root/repo", "CLUSTER_STREAM.json")
    if not os.path.exists(path):
        pytest.skip("CLUSTER_STREAM.json not yet committed")
    with open(path) as f:
        rep = json.load(f)
    assert rep["ok"] is True
    assert rep["exec_kill_ok"] is True
    assert rep["driver_kill_ok"] is True
    assert rep["sessions_exec_kill_ok"] is True
    # the kills genuinely happened and the master replaced the executors
    assert rep["exec_kill"]["kill"]["victim_pid"]
    assert rep["exec_kill"]["kill"]["replaced"] is True
    assert rep["exec_kill"]["dup_survivors"] == 0
    assert "driver_kill_marker" in rep["driver_kill_first"]["kill"]
    assert rep["driver_kill_resumed"]["dup_survivors"] == 0
    assert (
        rep["driver_kill_resumed"]["survivors_hash"]
        == rep["clean"]["survivors_hash"]
    )
    sk = rep["sessions_exec_kill"]
    assert sk["equal"] is True and sk["emitted"] > 0
    assert sk["kill"]["victim_pid"] and sk["kill"]["replaced"] is True


def test_pipeline_wall_artifact_green():
    """The committed composed-pipeline memory-wall measurement
    (tools_pipeline_wall, round 16) must stay green and complete in BOTH
    directions: every RELIABLE-checkpoint cell (the deployment flag) at
    x100 documents hash-matches the unconstrained composed reference for
    both variants — the spill-not-OOM contract for the materialize()
    boundaries — AND the constrained localCheckpoint cells are recorded
    as the controlled negative (block-manager loss under heap pressure,
    the same failure class as CLUSTER.json's localCheckpoint demo)."""
    path = os.path.join("/root/repo", "PIPELINE_r16.json")
    if not os.path.exists(path):
        pytest.skip("PIPELINE_r16.json not yet committed")
    with open(path) as f:
        rep = json.load(f)
    assert rep["hashes_green"] is True
    assert rep["mult"] >= 100 and rep["docs_rows"] >= 500_000
    ceilings = rep["ceilings"]
    ref_hash = ceilings[rep["reference_cell"]]["composed"]["hash"]
    assert ref_hash
    # every COMPLETED cell produced the reference result — wrong answers
    # under pressure would be red regardless of ceiling
    for name, cell in ceilings.items():
        for variant in ("composed", "staged"):
            rec = cell[variant]
            if "hash" in rec:
                assert rec["hash"] == ref_hash, (name, variant)
                assert rec["sec"] > 0 and rec["rows"] > 0
    # the deployment answer exists: >=1 reliable-mode constrained cell
    # fully green, at a genuinely constrained heap
    assert rep["reliable_green_cells"], "no green reliable cell"
    green_heaps = [
        ceilings[k]["max_heap_gb"] for k in rep["reliable_green_cells"]
    ]
    assert min(green_heaps) < ceilings[rep["reference_cell"]]["max_heap_gb"] / 3
    # and the memory wall itself is on record as controlled negatives
    assert rep["negatives_under_constraint"]
