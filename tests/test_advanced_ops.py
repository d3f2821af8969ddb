"""Unit tests for rolling distinct, ordered funnel, domain rebalance, and
CDC apply — planted fixtures exercising the edges the oracle queries don't
(out-of-order chains, deletes, skewed groups, window boundaries)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nexgap_spark.operators import cdc, sampling, timeseries

TS = dt.datetime


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def test_ordered_funnel_requires_strict_order(spark):
    ev = _events(
        spark,
        [
            # user 1: view < click < purchase — converts
            (1, 1, "view", TS(2024, 1, 1, 10, 0)),
            (2, 1, "click", TS(2024, 1, 1, 10, 10)),
            (3, 1, "purchase", TS(2024, 1, 1, 10, 20)),
            # user 2: click BEFORE view — no conversion
            (4, 2, "click", TS(2024, 1, 1, 10, 0)),
            (5, 2, "view", TS(2024, 1, 1, 10, 10)),
            (6, 2, "purchase", TS(2024, 1, 1, 10, 20)),
            # user 3: complete chain but outside the 1h bound
            (7, 3, "view", TS(2024, 1, 1, 9, 0)),
            (8, 3, "click", TS(2024, 1, 1, 9, 30)),
            (9, 3, "purchase", TS(2024, 1, 1, 10, 30)),
        ],
    )
    got = timeseries.ordered_funnel(
        ev, steps=["view", "click", "purchase"], within_seconds=3600
    ).collect()
    assert [r.event_id for r in got] == [3]
    assert got[0].chain_start == TS(2024, 1, 1, 10, 0)


def test_ordered_funnel_picks_latest_view(spark):
    # two views before the click: the LATER one must anchor the window
    ev = _events(
        spark,
        [
            (1, 1, "view", TS(2024, 1, 1, 8, 0)),
            (2, 1, "view", TS(2024, 1, 1, 10, 0)),
            (3, 1, "click", TS(2024, 1, 1, 10, 5)),
            (4, 1, "purchase", TS(2024, 1, 1, 10, 55)),
        ],
    )
    got = timeseries.ordered_funnel(
        ev, steps=["view", "click", "purchase"], within_seconds=3600
    ).collect()
    assert len(got) == 1 and got[0].chain_start == TS(2024, 1, 1, 10, 0)


def test_rolling_distinct_matches_bruteforce(spark):
    ev = _events(
        spark,
        [
            (1, 10, "view", TS(2024, 1, 1)),
            (2, 20, "view", TS(2024, 1, 3)),
            (3, 10, "view", TS(2024, 1, 9)),
            (4, 30, "view", TS(2024, 1, 9)),
        ],
    )
    got = {
        r.day: (r.n_distinct, r.n_events)
        for r in timeseries.rolling_distinct(ev, window_days=7).collect()
    }
    # day 1: {10}; day 3: {10,20}; day 7: {10,20}; day 8: {20}; day 9 window [Jan 3..9]: {20,10,30}
    assert got["2024-01-01"] == (1, 1)
    assert got["2024-01-03"] == (2, 2)
    assert got["2024-01-07"] == (2, 2)
    assert got["2024-01-08"] == (1, 1)
    assert got["2024-01-09"] == (3, 3)
    # window-ends stop at the max event day — no phantom trailing days
    assert max(got) == "2024-01-09"


def test_rebalance_groups_downsamples_to_min(spark):
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "k long, g string")
    kept = sampling.rebalance_groups(df, group_col="g", key_col="k")
    counts = {r.g: r.n for r in kept.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 10, "small": 10}
    # deterministic across invocations
    again = sampling.rebalance_groups(df, group_col="g", key_col="k")
    assert kept.exceptAll(again).count() == 0


def test_rebalance_groups_explicit_target(spark):
    df = spark.createDataFrame([(i, "g") for i in range(50)], "k long, g string")
    kept = sampling.rebalance_groups(df, group_col="g", key_col="k", target=7)
    assert kept.count() == 7


def test_cdc_apply_upsert_insert_delete(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, 1, "U"),  # update
            (4, "d", 40.0, 1, "U"),  # insert (new key)
            (3, "c", 30.0, 1, "D"),  # delete
            (1, "a-old", 99.0, 1, "U"),  # superseded by v2 below
            (1, "a2", 11.0, 2, "U"),  # latest version wins
        ],
        "k long, s string, v double, version long, op string",
    )
    got = {
        r.k: r
        for r in cdc.apply_changes(
            base, changes, key_cols=["k"], version_col="version", op_col="op"
        ).collect()
    }
    assert set(got) == {1, 2, 4}
    assert got[1].s == "a2" and got[1].v == 11.0
    assert got[2].s == "b2"
    assert got[4].s == "d"


def test_cdc_apply_without_op_col(spark):
    base = spark.createDataFrame([(1, 10.0)], "k long, v double")
    changes = spark.createDataFrame([(1, 11.0, 5)], "k long, v double, version long")
    got = cdc.apply_changes(
        base, changes, key_cols=["k"], version_col="version"
    ).collect()
    assert len(got) == 1 and got[0].v == 11.0


def test_small_side_cap_enforced(spark, monkeypatch):
    # the "small by contract" query side of brute-force top-k must FAIL
    # loudly past the cap, not silently collect an unbounded frame
    from nexgap_spark.operators import similarity

    vecs = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(4)]).alias("embedding"),
    )
    monkeypatch.setattr(similarity, "SMALL_SIDE_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="small-side contract"):
        similarity.brute_force_topk(vecs, vecs, k=2, dim=4)
    # under the cap the collect proceeds
    monkeypatch.setattr(similarity, "SMALL_SIDE_MAX_ROWS", 50)
    out = similarity.brute_force_topk(vecs, vecs, k=2, dim=4)
    assert out.count() == 20


def test_ivf_index_build_and_query(spark, tmp_path):
    # build-once/query-many: persisted IVF index with partition-pruned search
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # NON-contiguous centroid ids (3, 13, ..., 73): centroid id must be used
    # as an ID, never as a position into the collected centroid array — a
    # double-indexing routing bug crashes or silently probes wrong clusters
    cents = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") * 10 + 3).alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, cents, path)
    corpus, loaded_cents = load_ivf_index(spark, path)
    assert corpus.count() == emb.count() and loaded_cents.count() == 8
    assert "centroid_id" in corpus.columns

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # full probe degenerates to exact brute force
    exact = {(r.q_id, r.n_id) for r in brute_force_topk(queries, emb, k=3).collect()}
    full = ivf_topk_indexed(queries, path, k=3, nprobe=8)
    got = {(r.q_id, r.n_id) for r in full.collect()}
    assert got == exact

    # nprobe=1 must actually PRUNE: the scan reads only probed partitions
    one = ivf_topk_indexed(queries, path, k=3, nprobe=1)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid_id" in plan

    # nprobe=1 semantics pinned for real: every returned neighbor lives in
    # the query's OWN nearest cluster, and every reported cosine matches a
    # recomputed value (a wrong-cluster probe or score bug fails here)
    import numpy as np

    from nexgap_spark.operators.similarity import _np_assign_topm

    rows1 = one.collect()
    assert rows1
    cent_pd = loaded_cents.toPandas()
    cent_ids = cent_pd["centroid_id"].to_numpy()
    cent_mat = np.stack(cent_pd["embedding"].to_numpy()).astype(np.float64)
    assigned = {
        r.vec_id: r.centroid_id
        for r in corpus.select("vec_id", "centroid_id").collect()
    }
    q_map = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in queries.select("vec_id", "embedding").collect()
    }
    emb_map = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    for qid, qv in q_map.items():
        probe = int(_np_assign_topm(qv[None, :], cent_ids, cent_mat, 1)[0][0])
        for r in rows1:
            if r.q_id != qid:
                continue
            assert assigned[r.n_id] == probe, (qid, r.n_id)
            nv = emb_map[r.n_id]
            ref = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
            assert abs(ref - r.cos) < 1e-4


def test_ivf_index_non_bigint_ids(spark, tmp_path):
    # the mapInPandas result schema must carry the corpus id's NATIVE type:
    # string ids (a perfectly legal id_col) would fail or silently coerce
    # under a hard-coded `n_id long`
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import build_ivf_index, ivf_topk_indexed

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 40)
        .select(F.concat(F.lit("doc_"), F.col("vec_id")).alias("vec_id"), "embedding")
    )
    cents = emb.limit(4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivf_str")
    build_ivf_index(emb, cents, path)
    queries = emb.limit(3)
    out = ivf_topk_indexed(queries, path, k=2, nprobe=4)
    assert dict(out.dtypes)["n_id"] == "string"
    rows = out.collect()
    assert rows and all(r.n_id.startswith("doc_") for r in rows)


def test_semantic_dedup(spark):
    # two tight clusters + one singleton: within-cluster near-dups collapse
    # to the min id, cross-cluster similarity is never even computed
    from nexgap_spark.operators.similarity import semantic_dedup

    def v(base, eps, dim=4):
        out = [0.0] * dim
        out[base] = 1.0
        out[(base + 1) % dim] = eps
        return out

    vecs = spark.createDataFrame(
        [
            (1, v(0, 0.0)), (2, v(0, 0.01)), (3, v(0, 0.02)),  # cluster around e0
            (10, v(2, 0.0)), (11, v(2, 0.015)),                # cluster around e2
            (99, v(1, 0.0)),                                   # alone near e1
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(100, v(0, 0.0)), (200, v(2, 0.0)), (300, v(1, 0.0))],
        "centroid_id long, embedding array<double>",
    )
    kept = {
        r.vec_id
        for r in semantic_dedup(vecs, cents, threshold=0.99, dim=4).collect()
    }
    assert kept == {1, 10, 99}

    # a high threshold keeps everything
    all_kept = semantic_dedup(vecs, cents, threshold=1.1, dim=4).count()
    assert all_kept == 6

    # mega-cluster salt split: 300 near-identical vectors in ONE cluster
    # with cap 50 → pairs bounded per sub-cluster, and the min id of each
    # sub-cluster survives (bounded recall loss, never a k^2 task)
    boiler = spark.createDataFrame(
        [(i, v(0, 0.001 * (i % 3))) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    kept_salted = semantic_dedup(
        boiler, cents, threshold=0.99, dim=4, max_cluster_size=50
    ).count()
    uncapped = semantic_dedup(
        boiler, cents, threshold=0.99, dim=4, max_cluster_size=None
    ).count()
    assert uncapped == 1  # all near-dups of one survivor
    assert 1 <= kept_salted <= 6  # one survivor per hash sub-cluster


def test_semantic_dedup_batched_kernel_spanning_batches(spark):
    """r18: the within-cluster scan is one partition-level mapInPandas
    kernel (clusters grouped off contiguous sorted runs) instead of one
    applyInPandas call per cluster. A cluster that spans Arrow batch
    boundaries must be reassembled by the carry logic — force 16-row
    batches so every cluster spans several."""
    from nexgap_spark.operators.similarity import semantic_dedup

    def v(base, eps, dim=4):
        out = [0.0] * dim
        out[base] = 1.0
        out[(base + 1) % dim] = eps
        return out

    # 3 clusters of 100 near-identical rows each; min id per cluster wins
    rows = []
    for c, base in enumerate((0, 1, 2)):
        rows += [(c * 1000 + i, v(base, 0.0001 * (i % 5))) for i in range(100)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(100, v(0, 0.0)), (200, v(1, 0.0)), (300, v(2, 0.0))],
        "centroid_id long, embedding array<double>",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        kept = {
            r.vec_id
            for r in semantic_dedup(
                vecs, cents, threshold=0.99, dim=4, max_cluster_size=None
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert kept == {0, 1000, 2000}


def test_semantic_dedup_degraded_inputs(spark):
    # NULL/short embeddings and empty centroid tables must be KEPT rows /
    # no-op dedup, never a job crash in the Arrow stages
    from nexgap_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0, 0.0]),   # near-dup of 1
            (3, None),                      # NULL embedding
            (4, [0.5]),                     # too short for dim=4
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(9, [1.0, 0.0, 0.0, 0.0])], "centroid_id long, embedding array<double>"
    )
    kept = {r.vec_id for r in semantic_dedup(vecs, cents, threshold=0.99, dim=4).collect()}
    assert kept == {1, 3, 4}  # 2 dropped; unclusterable rows pass through

    empty_cents = cents.filter("centroid_id < 0")
    assert semantic_dedup(vecs, empty_cents, threshold=0.99, dim=4).count() == 4


def test_append_ivf_index_equals_full_rebuild(spark, tmp_path):
    # appending a second batch to a persisted index must answer queries
    # identically to rebuilding the index over the union (same centroids)
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )
    from nexgap_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") % 25 == 0)

    inc_path = str(tmp_path / "inc")
    build_ivf_index(first, cents, inc_path)
    append_ivf_index(second, inc_path)

    full_path = str(tmp_path / "full")
    build_ivf_index(emb, cents, full_path)

    inc = sorted(tuple(r) for r in ivf_topk_indexed(queries, inc_path, k=3, nprobe=2).collect())
    full = sorted(tuple(r) for r in ivf_topk_indexed(queries, full_path, k=3, nprobe=2).collect())
    assert inc == full
    assert len(inc) > 0


def test_ivf_int8_probe_exact_at_full_coverage(spark, tmp_path):
    """quantize=True index + int8 probe: at nprobe=all and a rerank window
    covering the whole corpus, the float rerank makes the output EXACTLY
    brute_force_topk (the int8 stage only selects candidates; scoring of
    the emitted rows is exact float arithmetic)."""
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk_indexed_int8,
        load_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") * 10 + 3).alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivf8")
    build_ivf_index(emb, cents, path, quantize=True)
    corpus, _ = load_ivf_index(spark, path)
    assert {"qvec", "qscale", "l2n"} <= set(corpus.columns)
    row = corpus.limit(1).collect()[0]
    assert len(row.qvec) == len(row.embedding)
    assert max(abs(v) for v in row.qvec) <= 127

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    # brute_force_topk emits full-precision cos; the indexed probes round
    # to 6dp (same contract as ivf_topk_indexed) — compare at 6dp
    exact = {
        (r.q_id, r.n_id, round(r.cos, 6))
        for r in brute_force_topk(queries, emb, k=3).collect()
    }
    got = {
        (r.q_id, r.n_id, r.cos)
        for r in ivf_topk_indexed_int8(
            queries, path, k=3, nprobe=8, rerank_factor=(n // 3) + 1
        ).collect()
    }
    assert got == exact


def test_ivf_int8_probe_prunes_and_reranks(spark, tmp_path):
    """Default rerank window: results are float-scored (cos matches the
    float probe for the pairs both return) and the int8 candidate scan
    never reads the float vector column."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        ivf_topk_indexed_int8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") % 7 == 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivf8b")
    build_ivf_index(emb, cents, path, quantize=True)
    queries = emb.filter(F.col("vec_id") % 60 == 0)

    flt = ivf_topk_indexed(queries, path, k=3, nprobe=2)
    i8 = ivf_topk_indexed_int8(queries, path, k=3, nprobe=2, rerank_factor=4)
    f_rows = {(r.q_id, r.n_id): r.cos for r in flt.collect()}
    i_rows = {(r.q_id, r.n_id): r.cos for r in i8.collect()}
    assert i_rows, "int8 probe returned nothing"
    shared = set(f_rows) & set(i_rows)
    assert shared, "no overlap between float and int8 probes at nprobe=2"
    for key in shared:  # rerank is exact float scoring -> identical cos
        assert i_rows[key] == f_rows[key], key
    # recall of the int8 path vs the float path at the same nprobe
    recall = len(shared) / len(f_rows)
    assert recall >= 0.8, f"int8-vs-float agreement {recall}"

    # plan audit: the candidate scan must not read the float column
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        i8.explain("formatted")
    plan = buf.getvalue()
    assert "qvec" in plan
    assert "PartitionFilters" in plan


def test_build_ivf_index_dirty_corpus_probe(spark, tmp_path):
    """NULL embeddings get a NULL centroid_id at build and append time: the
    index keeps them in the NULL partition, and a full-coverage probe of
    the dirty index equals brute force over the clean rows."""
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        append_ivf_index,
        brute_force_topk,
        build_ivf_index,
        ivf_topk_indexed,
        load_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    clean = dirty.filter(F.col("embedding").isNotNull())
    cents = emb.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(dirty.filter(F.col("vec_id") < 20), cents, path)
    append_ivf_index(dirty.filter(F.col("vec_id") >= 20), path)
    corpus, _ = load_ivf_index(spark, path)
    assert corpus.count() == 40
    assert {
        r.vec_id for r in corpus.filter(F.col("centroid_id").isNull()).collect()
    } == {0, 7, 14, 21, 28, 35}

    queries = clean.filter(F.col("vec_id") % 5 == 1)
    got = sorted(
        tuple(r) for r in ivf_topk_indexed(queries, path, k=3, nprobe=4).collect()
    )
    exact = sorted(
        (r.q_id, r.n_id, round(r.cos, 6), r.rk)
        for r in brute_force_topk(queries, clean, k=3).collect()
    )
    assert got == exact and len(got) == 3 * queries.count()


def test_kmeans_update_string_centroid_ids(spark):
    """kmeans_update types centroid_id from the centroid table: string ids
    give the same update as long ids, and NULL embeddings join no cluster."""
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import kmeans_update

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cents_s = cents.select(
        F.concat(F.lit("c"), F.col("centroid_id").cast("string")).alias("centroid_id"),
        "embedding",
    )
    by_long = {
        (r.centroid_id, r.pos): (r.n_members, r.dim_sum)
        for r in kmeans_update(emb, cents).collect()
    }
    upd_s = kmeans_update(emb, cents_s)
    assert dict(upd_s.dtypes)["centroid_id"] == "string"
    by_str = {(r.centroid_id, r.pos): (r.n_members, r.dim_sum) for r in upd_s.collect()}
    assert by_long and by_str == {(f"c{c}", p): v for (c, p), v in by_long.items()}

    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    members = sum(
        r.n_members for r in kmeans_update(dirty, cents).filter("pos = 0").collect()
    )
    assert members == dirty.filter(F.col("embedding").isNotNull()).count()


def test_append_ivf_index_preserves_quantization(spark, tmp_path):
    """r15 review: appending to a quantize=True index must quantize the
    appended batch too — otherwise the new files carry NULL qvec/qscale/
    l2n and the next int8 probe crashes or silently mis-ranks."""
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk_indexed_int8,
        load_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 300)
    extra = emb.filter(F.col("vec_id") >= 300)
    cents = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivfq")
    build_ivf_index(base, cents, path, quantize=True)
    append_ivf_index(extra, path)
    corpus, _ = load_ivf_index(spark, path)
    assert corpus.count() == emb.count()
    # every appended row carries the int8 columns
    assert corpus.filter(F.col("qvec").isNull()).count() == 0
    assert corpus.filter(F.col("l2n").isNull()).count() == 0
    # and the int8 probe sees appended vectors as results
    queries = emb.filter(F.col("vec_id") % 100 == 1)
    got = ivf_topk_indexed_int8(queries, path, k=5, nprobe=6).collect()
    assert any(r.n_id >= 300 for r in got)


def test_quantize_stage_rejects_null_embeddings(spark, tmp_path):
    """NULL embeddings get a NULL centroid at assignment, but quantize=True
    must not let those rows reach np.stack's opaque shape crash — the
    quantize stage fails with an actionable message instead."""
    import pytest
    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    cents = emb.limit(4).select(F.col("vec_id").alias("centroid_id"), "embedding")
    with pytest.raises(Exception, match="quantize=True requires non-NULL"):
        build_ivf_index(dirty, cents, str(tmp_path / "ivf"), quantize=True)
    # the documented fix works: filter NULLs first
    build_ivf_index(
        dirty.filter(F.col("embedding").isNotNull()),
        cents,
        str(tmp_path / "ivf_clean"),
        quantize=True,
    )


def test_ivf_int8_probe_norerank_never_reads_float(spark, tmp_path):
    """Round 16: rerank_factor=0 is the true 4x-bytes serving shape — the
    float column must be ABSENT from the plan (the rerank pass re-scans
    probed partitions' floats in a pure-parquet deployment, measured in
    the round-16 bytes rows), and at full coverage the returned ids must
    match the reranked path's ids (recall parity: the int8 ranking picks
    the same neighbors; only the score column is approximate)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from nexgap_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed_int8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "ivfq")
    build_ivf_index(emb, cents, path, quantize=True)
    queries = emb.filter(F.col("vec_id") % 100 == 3)

    nr = ivf_topk_indexed_int8(queries, path, k=5, nprobe=4, rerank_factor=0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        nr.explain("formatted")
    plan = buf.getvalue()
    assert "qvec" in plan
    # the corpus float column never enters the no-rerank plan: the only
    # embedding reads are the driver-side query/centroid pulls
    assert "embedding" not in plan, plan

    nr_rows = nr.collect()
    rr_rows = ivf_topk_indexed_int8(
        queries, path, k=5, nprobe=4, rerank_factor=4
    ).collect()
    per_q = {}
    for r in nr_rows:
        per_q.setdefault(r.q_id, set()).add(r.n_id)
    assert all(len(s) == 5 for s in per_q.values())
    rr_per_q = {}
    for r in rr_rows:
        rr_per_q.setdefault(r.q_id, set()).add(r.n_id)
    agree = sum(
        len(per_q[q] & rr_per_q[q]) for q in per_q
    ) / (5 * len(per_q))
    assert agree >= 0.9, f"int8-only ids vs reranked ids agreement {agree}"
