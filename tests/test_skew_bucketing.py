"""Skew mitigation + bucketing: semantic equivalence and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexgap_spark.operators import skew
from nexgap_spark.session import load_table
from nexgap_spark.sources.bucketed import read_bucketed, write_bucketed
from tests.conftest import SF_SMOKE


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    got = skew.salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "*"),
            "total": ("sum", "value"),
            "first_id": ("min", "event_id"),
            "last_id": ("max", "event_id"),
        },
        buckets=8,
    )
    want = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("total"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )
    cols = ["event_type", "n", "first_id", "last_id"]
    assert _rows(got, cols) == _rows(want, cols)
    # float sums: order differs between salted/plain, compare rounded
    assert sorted(
        (r["event_type"], round(r["total"], 6)) for r in got.collect()
    ) == sorted((r["event_type"], round(r["total"], 6)) for r in want.collect())


def test_salted_agg_rejects_non_mergeable(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    with pytest.raises(ValueError):
        skew.salted_agg(ev, ["event_type"], {"a": ("avg", "value")})


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, how):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "event_type")
    users = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_events"))
    )
    got = skew.salted_join(ev, users, ["user_id"], buckets=8, how=how)
    want = ev.join(users, ["user_id"], how)
    cols = ["event_id", "user_id", "event_type", "user_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_salted_join_distributes_hot_key(spark):
    # one key owning 99% of rows: salted shuffle must spread it over >1
    # partition of the join exchange — measured via the salt distribution
    hot = spark.range(10_000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload")
    )
    left = hot.union(
        spark.range(100).select((F.col("id") + 2).alias("k"), F.col("id").alias("payload"))
    )
    right = left.select("k").distinct().withColumn("tag", F.col("k") * 10)
    got = skew.salted_join(left, right, ["k"], buckets=8)
    assert got.count() == left.count()
    salted = left.withColumn("_salt", F.floor(F.rand(42) * 8).cast("int"))
    n_salts = salted.filter(F.col("k") == 1).select("_salt").distinct().count()
    assert n_salts > 1


def test_top_keys_diagnostic(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    top = skew.top_keys(ev, ["user_id"], n=5)
    rows = top.collect()
    assert len(rows) == 5
    shares = [r["share"] for r in rows]
    assert shares == sorted(shares, reverse=True)


def test_number_rows_scalable_matches_global_window(spark):
    from nexgap_spark.operators.span_tree import number_rows, number_rows_scalable

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    got = number_rows_scalable(ev, order_col="event_id")
    want = number_rows(ev, order_col="event_id")
    assert _rows(got, ["event_id", "seq"]) == _rows(want, ["event_id", "seq"])
    # the big side is range-partitioned, not funneled through one partition
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events")
    by_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    write_bucketed(
        ev.select("event_id", "user_id", "value"),
        "ev_bucketed",
        str(tmp_path / "ev"),
        bucket_cols=["user_id"],
        buckets=8,
        sort_cols=["user_id"],
    )
    write_bucketed(
        by_user,
        "users_bucketed",
        str(tmp_path / "users"),
        bucket_cols=["user_id"],
        buckets=8,
        sort_cols=["user_id"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a sort-merge plan: broadcast would hide the exchange question
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "ev_bucketed").join(
            read_bucketed(spark, "users_bucketed"), "user_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # and it computes the right thing
        assert joined.count() == ev.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS users_bucketed")


def _derived_span_frame(spark, with_trace=True):
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events")
    parent = (
        F.when(F.col("event_id") % 100 == 0, F.lit(None).cast("long"))
        .when(F.col("event_id") % 10 == 0, F.col("event_id") - (F.col("event_id") % 100))
        .otherwise(F.col("event_id") - (F.col("event_id") % 10))
    )
    cols = [
        F.col("event_id").alias("span_id"),
        parent.alias("parentObservationId"),
        F.col("event_type").alias("span_name"),
    ]
    if with_trace:
        cols.append((F.col("event_id") - F.col("event_id") % 100).alias("trace_id"))
    return ev.select(*cols)


def test_trace_colocated_parent_join_no_exchange(spark, tmp_path):
    """The 100 TB span at-rest layout: bucketed on trace_id, parent join
    keyed (trace, parent=span) plans with ZERO exchange and matches the
    broadcast-path results exactly."""
    from nexgap_spark.operators import span_tree

    spans = _derived_span_frame(spark)
    write_bucketed(
        spans,
        "spans_by_trace",
        str(tmp_path / "spans"),
        bucket_cols=["trace_id"],
        buckets=8,
        sort_cols=["trace_id", "span_id"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = read_bucketed(spark, "spans_by_trace")
        joined = span_tree.join_parent(t, trace_col="trace_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        got = sorted(
            (r.span_id, r.parent_span_name) for r in joined.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    want = sorted(
        (r.span_id, r.parent_span_name)
        for r in span_tree.join_parent(spans).collect()
    )
    assert got == want and len(got) == spans.count()


def test_trace_colocated_resolve_root_no_exchange(spark, tmp_path):
    """Multi-hop root walk over the bucketed layout: every hop joins on
    (trace, cursor=span) — the WHOLE walk plans exchange-free, and equals
    the broadcast-path resolution."""
    from nexgap_spark.operators import span_tree

    spans = _derived_span_frame(spark)
    write_bucketed(
        spans,
        "spans_by_trace_rr",
        str(tmp_path / "spans_rr"),
        bucket_cols=["trace_id"],
        buckets=8,
        sort_cols=["trace_id", "span_id"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = read_bucketed(spark, "spans_by_trace_rr")
        resolved = span_tree.resolve_root(
            t, id_col="span_id", parent_col="parentObservationId",
            max_hops=3, trace_col="trace_id",
        )
        plan = resolved._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        got = sorted((r.span_id, r.root_id) for r in resolved.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    want = sorted(
        (r.span_id, r.root_id)
        for r in span_tree.resolve_root(
            spans, id_col="span_id", parent_col="parentObservationId", max_hops=3
        ).collect()
    )
    assert got == want
    # every span's root must be the 100-block root (the derived-forest rule)
    assert all(root % 100 == 0 for _, root in got)
    spark.sql("DROP TABLE IF EXISTS spans_by_trace")
    spark.sql("DROP TABLE IF EXISTS spans_by_trace_rr")


def test_trace_colocated_resolve_agent_name_equals_broadcast(spark):
    """trace_col resolution must be a pure layout optimization — identical
    agent_name output to the broadcast path on the Langfuse-shaped fixture
    (string ids, Sub-agent prefixes, config match + fallback)."""
    from nexgap_spark.operators import span_tree
    from nexgap_spark.schemas import SPAN_SCHEMA
    from tests.fixtures_spans import CONFIG_AGENTS, build_spans

    rows = []
    for s in build_spans():
        s = dict(s)
        if isinstance(s["output"], dict):
            s["output"] = [s["output"]]
        rows.append(s)
    spans = spark.createDataFrame(rows, schema=SPAN_SCHEMA)
    want = sorted(
        (r.span_id, r.agent_name)
        for r in span_tree.resolve_agent_name(spans, CONFIG_AGENTS).collect()
    )
    got = sorted(
        (r.span_id, r.agent_name)
        for r in span_tree.resolve_agent_name(
            spans, CONFIG_AGENTS, trace_col="trace_id"
        ).collect()
    )
    assert got == want


def test_trace_colocated_converter_pipelines_equal(spark):
    """convert_spans / convert_spans_nexau with trace_col must produce
    byte-identical records to the broadcast path — the layout mode covers
    the WHOLE q37-shaped pipeline, not just the standalone joins."""
    from nexgap_spark.operators.converter import convert_spans, convert_spans_nexau
    from nexgap_spark.schemas import SPAN_SCHEMA
    from tests.fixtures_spans import CONFIG_AGENTS, build_spans

    rows = []
    for s in build_spans():
        s = dict(s)
        if isinstance(s["output"], dict):
            s["output"] = [s["output"]]
        rows.append(s)
    spans = spark.createDataFrame(rows, schema=SPAN_SCHEMA)

    def key(df):
        return sorted(
            (r.trace_id, r.span_id, r.agent_name, str(r.messages))
            for r in df.collect()
        )

    assert key(convert_spans(spans, config_agents=CONFIG_AGENTS, trace_col="trace_id")) == key(
        convert_spans(spans, config_agents=CONFIG_AGENTS)
    )
    assert key(convert_spans_nexau(spans, trace_col="trace_id")) == key(
        convert_spans_nexau(spans)
    )


def test_trace_colocated_survives_mega_trace_skew(spark, tmp_path):
    """The layout's documented bound is 'skew limited by the largest single
    trace' — prove the degenerate case: ONE trace holding most of the
    table must still join correctly through the bucket-local path (one hot
    bucket works harder; nothing breaks, nothing is lost)."""
    from pyspark.sql import functions as F

    from nexgap_spark.operators import span_tree

    n_hot, n_cold = 50_000, 5_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("span_id"),
        F.when(F.col("id") == 0, F.lit(None).cast("long"))
        .otherwise(F.col("id") - 1).alias("parentObservationId"),  # one deep chain
        F.lit("hot").alias("span_name"),
        F.lit(0).cast("long").alias("trace_id"),
    )
    cold = spark.range(n_cold).select(
        (F.col("id") + 1_000_000).alias("span_id"),
        F.lit(None).cast("long").alias("parentObservationId"),
        F.lit("cold").alias("span_name"),
        (F.col("id") + 1_000_000).alias("trace_id"),
    )
    spans = hot.unionByName(cold)
    write_bucketed(
        spans, "spans_mega_trace", str(tmp_path / "mega"),
        bucket_cols=["trace_id"], buckets=8, sort_cols=["trace_id", "span_id"],
    )
    try:
        t = read_bucketed(spark, "spans_mega_trace")
        joined = span_tree.join_parent(t, trace_col="trace_id")
        got = (
            joined.groupBy(
                F.coalesce("parent_span_name", F.lit("ROOT")).alias("p")
            ).count().collect()
        )
        by = {r.p: r["count"] for r in got}
        # hot trace: span k's parent is k-1 (named 'hot') except the root
        assert by == {"hot": n_hot - 1, "ROOT": n_cold + 1}
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS spans_mega_trace")


def test_trace_mode_dangling_parent_stops_at_last_real_ancestor(spark):
    """A dangling parent pointer stops the walk at the last REAL ancestor,
    in trace-co-located mode exactly as in the broadcast mode."""
    from nexgap_spark.operators import span_tree

    spans = spark.createDataFrame(
        [
            ("t1", 1, None),      # root
            ("t1", 2, 1),         # child of root
            ("t1", 3, 99),        # dangling parent -> own root
            ("t1", 4, 3),         # child of dangling -> stops at 3
        ],
        "trace_id string, span_id long, parentObservationId long",
    ).repartition(2, "trace_id")
    got = {
        r.span_id: r.root_id
        for r in span_tree.resolve_root(
            spans, max_hops=4, trace_col="trace_id"
        ).collect()
    }
    want = {
        r.span_id: r.root_id
        for r in span_tree.resolve_root(spans, max_hops=4).collect()
    }
    assert got == want == {1: 1, 2: 1, 3: 3, 4: 3}


def test_trace_mode_cross_trace_parent_is_miss(spark):
    """In trace-co-located mode an ancestor recorded under a DIFFERENT
    trace is a miss (the join keys are (trace, span)), even though the id
    exists in the frame."""
    from nexgap_spark.operators import span_tree

    spans = spark.createDataFrame(
        [
            ("ta", "s1", None, "root-a"),
            ("tb", "s2", "s1", "child-wrong-trace"),
        ],
        "trace_id string, span_id string, parentObservationId string, span_name string",
    ).coalesce(1)
    got = {
        r.span_id: r.root_id
        for r in span_tree.resolve_root(spans, trace_col="trace_id").collect()
    }
    assert got == {"s1": "s1", "s2": "s2"}
    agents = {
        r.span_id: r.agent_name
        for r in span_tree.resolve_agent_name(
            spans, ["root-a"], trace_col="trace_id"
        ).collect()
    }
    assert agents["s2"] is None  # cross-trace parent never resolves


def test_skew_artifact_green():
    """The committed Zipf skew measurement (tools_skew.py, round 15) must
    stay green: salted join row-identical to plain, and the sweep names
    the shares where salting beats the best plain variant."""
    import json as _json
    import os as _os

    import pytest as _pytest

    path = "/root/repo/SKEW.json"
    if not _os.path.exists(path):
        _pytest.skip("SKEW.json not yet committed")
    with open(path) as f:
        rep = _json.load(f)
    assert rep["equality_ok"] is True
    shares = {r["hot_share"]: r for r in rep["shares"]}
    assert 0.0 in shares and len(shares) >= 3
    # every variant actually ran at every share
    for r in rep["shares"]:
        for variant in ("join_plain_noaqe", "join_plain_aqe", "join_salted"):
            assert r[variant]["sec"] > 0
    # the uniform (share=0) row must NOT claim a salting win — salting
    # costs a dim replication; on uniform data plain should hold
    assert 0.0 not in rep["salted_join_wins_at_shares"]
