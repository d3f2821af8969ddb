"""Session-level helpers: the fan-out guard's no-op contract."""

from __future__ import annotations


def test_wide_table_noop_when_already_wide(spark, tmp_path):
    # the 100 TB contract: an input already at least cluster-wide passes
    # through UNTOUCHED (no extra exchange), narrow inputs get exactly one
    # round-robin repartition to the input-size-derived width (r18:
    # adaptive_width — capped at defaultParallelism, > 1 so the stage
    # never serializes)
    from nexgap_spark.session import adaptive_width, fan_out_python_stage

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(par + 4)
    assert fan_out_python_stage(wide) is wide  # identical object: no-op
    narrow = spark.range(10_000).coalesce(1)
    out = fan_out_python_stage(narrow)
    assert out is not narrow
    width = adaptive_width(narrow)
    assert 1 < width <= par
    assert out.rdd.getNumPartitions() == width
    assert out.count() == 10_000


def test_adaptive_width_contracts(spark, monkeypatch):
    """r18: CPU-stage fan-out width derives from the input's optimizer
    size estimate (bytes / session.FANOUT_TARGET_BYTES, 64 KB),
    clamped to [floor, defaultParallelism]. An unknown/huge estimate and
    heavy=True both clamp to defaultParallelism (the pre-r18 behavior),
    so the adaptive path can only narrow provably-small inputs."""
    from nexgap_spark import session
    from nexgap_spark.session import (
        adaptive_width,
        fan_out_python_stage,
        load_table,
    )

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    w = adaptive_width(docs)
    assert 2 <= w <= par
    # a tiny projection narrows further, but never below the floor
    assert 2 <= adaptive_width(docs.select("doc_id")) <= w
    # tiny target → width saturates at core count
    with monkeypatch.context() as m:
        m.setattr(session, "FANOUT_TARGET_BYTES", 1)
        assert adaptive_width(docs) == par
    # heavy=True keeps the full core-count fan-out for per-row-bound
    # stages regardless of byte size
    narrow_ids = docs.select("doc_id").coalesce(1)
    assert (
        fan_out_python_stage(narrow_ids, heavy=True).rdd.getNumPartitions()
        == par
    )
    # an explicit finer target (codec-weight stages) widens relative to
    # the 64 KB default, still capped at core count
    w_codec = adaptive_width(narrow_ids, target_bytes=8 * 1024)
    assert adaptive_width(narrow_ids) <= w_codec <= par
    assert (
        fan_out_python_stage(
            narrow_ids, target_bytes=8 * 1024
        ).rdd.getNumPartitions()
        == w_codec
    )
