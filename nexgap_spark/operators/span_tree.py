"""Span-tree relational core (SURVEY §2.2-§2.4: P1-P3/P10, J1-J3, A1, A2, O1).

The reference walks parent-pointer dicts one span at a time
(convert_spans_to_chatcompletion.py:454-526, 1637-1687). Spark-first:
the span index becomes the build side of a broadcast hash join, the
"last generation per group" dedup becomes one window, and multi-hop agent
resolution is an iterative self-join to a bounded fixpoint (tree depth ≤ ~5).

Scale: spans-per-trace is small but trace count is huge; every operator here
shuffles at most once on trace-local keys, and the parent join broadcasts the
projected (span_id, span_name, parent) columns only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nexgap_spark.session import materialize

GENERATION_MARKERS = ("OpenAI-generation", "anthropic.chat")
EPOCH_FLOOR = "1970-01-01T00:00:00"
SUBAGENT_PREFIX = "Sub-agent: "


def filter_generation_spans(
    spans: DataFrame, marker: str | tuple[str, ...] = GENERATION_MARKERS
) -> DataFrame:
    """P2 (reference convert_spans_to_chatcompletion.py:1517-1521):
    span_type == GENERATION and span_name contains the generation marker.
    Accepts one marker or a tuple (a trace mixing `OpenAI-generation` and
    `anthropic.chat` span markers needs both in one pass)."""
    markers = (marker,) if isinstance(marker, str) else tuple(marker)
    cond = F.col("span_name").contains(markers[0])
    for m in markers[1:]:
        cond = cond | F.col("span_name").contains(m)
    return spans.filter((F.col("span_type") == "GENERATION") & cond)


def filter_nonempty_input(spans: DataFrame) -> DataFrame:
    """P10 (reference :1534-1535): drop spans with empty/missing input."""
    return spans.filter(F.size(F.coalesce(F.col("input"), F.array())) > 0)


def exclude_meta(df: DataFrame, col: str = "agent_name") -> DataFrame:
    """P3 (reference :1801): drop rows resolved to the 'meta' agent."""
    return df.filter((F.col(col).isNull()) | (F.col(col) != "meta"))


def enrich(df: DataFrame, *, query: str, framework: str, langfuse_trace_id: str) -> DataFrame:
    """P1 (reference run_end_to_end.py:366-379): literal enrichment columns."""
    return (
        df.withColumn("query", F.lit(query))
        .withColumn("framework", F.lit(framework))
        .withColumn("langfuse_trace_id", F.lit(langfuse_trace_id))
        .withColumn("stop", F.lit(""))
    )


def last_generation_per_group(
    spans: DataFrame, *, tiebreak: str = "span_id", pre_partition: int | None = None
) -> DataFrame:
    """A1 (reference :1637-1687): group generation spans by
    coalesce(parentObservationId, span_id); keep the chronologically last by
    startTime, nulls treated as the epoch floor. One window, one shuffle.

    The reference relies on input order for ties; we pin ``tiebreak`` so the
    result is deterministic under any partitioning.

    ``pre_partition``: hash-repartition on the GROUP KEY to exactly this
    many partitions before the window. The keyed repartition satisfies the
    window's required distribution, so it REPLACES the window's own
    exchange rather than adding one — and its REPARTITION_BY_NUM origin is
    exempt from AQE coalescing, so a downstream CPU-bound Python stage
    inherits guaranteed width without a second exchange (the r9 fix paid
    +0.7 s at sf0.1 for an extra post-window round-robin exchange; this
    gets the same ×100 guarantee for free).
    """
    group_key = F.coalesce(F.col("parentObservationId"), F.col("span_id"))
    if pre_partition is not None:
        spans = spans.repartition(pre_partition, group_key)
    ts = F.coalesce(
        F.to_timestamp("startTime"), F.lit(EPOCH_FLOOR).cast("timestamp")
    )
    w = W.partitionBy(group_key).orderBy(ts.desc(), F.col(tiebreak).desc())
    return (
        spans.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


PARENT_BROADCAST_CAP = 5_000_000  # rows; ≈ dedup's membership-join cap

# Above this many parent rows the build side is semi-joined down to the
# ids that actually occur as parent pointers before it is broadcast /
# shuffled. In real traces the bulk of spans are leaves that nothing
# references: on the ×100 fixture this shrinks the build 10× (10 M → 1.1 M)
# and cuts every resolver variant ~3× (measured, SCALE.md round-10). Below
# the threshold the extra semi-join shuffle costs more than it saves.
PRUNE_BUILD_ROWS = 2_000_000

# Logical-plan nodes whose recompute is NOT a cheap rescan: if an input's
# optimized plan contains any of these, re-executing its lineage (which the
# cap-check count, the semi-prune refs pass, and every lazy exit-union
# branch would each do) repeats real work — shuffles, sorts, or per-row
# Python — so the frame is materialized ONCE up front instead.
_EXPENSIVE_PLAN_NODES = (
    # NOT listed: Union — a union's recompute cost is its children's, and
    # any expensive child shows its own token in the subtree string (a
    # union of two document-scan projections is exactly the cheap case:
    # flagging it checkpointed q37's whole fat synthesized span table for
    # nothing, +10 s at ×100)
    "Join",
    "Window",
    "Aggregate",
    "Sort",
    "Generate",
    "Expand",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapPartitions",
    "RepartitionByExpression",
    "Repartition",
    "PythonUDF",
)


def _cheap_lineage(df: DataFrame) -> bool:
    """True when re-executing ``df``'s plan is just a scan + narrow
    expressions (Project/Filter over a relation). Analysis-only: reads the
    optimized logical plan, runs no job."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return not any(tok in plan for tok in _EXPENSIVE_PLAN_NODES)


def _ensure_cheap(df: DataFrame) -> DataFrame:
    """localCheckpoint a frame whose lineage is expensive to re-execute.

    The span operators read their inputs several times — cap-check count,
    build-side prune, one probe per hop, one branch per exit — which is
    free over a parquet scan but repeats shuffles/Python stages otherwise
    (a window-fed converter input re-ran its whole synthesis pipeline per
    exit branch: q37 spans ×100 went 17.6 s → 47 s before this guard).
    Unlike persist(), checkpoint blocks release via the ContextCleaner
    when the frame goes out of scope."""
    if df.isStreaming:
        return df
    return df if _cheap_lineage(df) else materialize(df)


_COLOCATABLE_OK: "dict[tuple[int, str], DataFrame]" = {}
_COLOCATABLE_OK_CAP = 256


def _require_colocatable(spans: DataFrame, trace_col: str, validate: bool) -> None:
    """Trace-co-located mode precondition, enforced loudly: every span must
    carry a non-null trace id — a NULL trace cannot co-locate, so its
    parent_span_name/agent_name/root_id would quietly come back NULL
    instead of resolving (silent data degradation, not an error). Over a
    parquet scan the IS NULL probe is pushed down to row-group null-count
    stats, so the check is nearly free; ``validate_trace=False`` skips it
    for callers who have already guaranteed the invariant (or explicitly
    accept null-trace rows resolving to NULL).

    Passed validations are cached per (semantic plan hash, trace_col) so
    re-building the same plan — a timed bench loop, an iterative resolver
    re-entering per hop — runs the probe job once, keeping subsequent plan
    construction effectively lazy (r12 advice). The cache only ever skips
    a re-check of a plan that already PASSED, and every parquet write entry
    point in this package clears it via session._drop_derived_caches — an
    out-of-band rewrite (external process) can still stale it, which is
    the same contract as ``validate_trace=False``."""
    if not validate or spans.isStreaming:
        return
    key = (spans.semanticHash(), trace_col)
    hit = _COLOCATABLE_OK.get(key)
    # the 32-bit semanticHash is only the bucket: confirm with
    # sameSemantics so a hash COLLISION can never skip validating a plan
    # that was never checked (r13 review)
    if hit is not None and spans.sameSemantics(hit):
        return
    if not spans.filter(F.col(trace_col).isNull()).isEmpty():
        raise ValueError(
            f"trace-co-located mode requires non-null {trace_col!r}: found "
            "spans with a NULL trace id, whose parent edges would silently "
            "resolve to NULL instead of failing. Filter or repair them "
            "first, or pass validate_trace=False to accept NULL resolution "
            "for those rows."
        )
    if len(_COLOCATABLE_OK) >= _COLOCATABLE_OK_CAP:
        _COLOCATABLE_OK.clear()
    # store the validated frame itself (a plan handle, not data) so cache
    # hits are confirmed exactly via sameSemantics
    _COLOCATABLE_OK[key] = spans


def _parent_side(
    parents: DataFrame,
    broadcast_parents: bool | None,
    max_rows: int = PARENT_BROADCAST_CAP,
    *,
    ref_ids: DataFrame | None = None,
    multi_hop: bool = False,
) -> tuple[DataFrame, int | None, bool]:
    """Single definition of the parent-join build-side policy; returns
    (side, row_count or None, hinted) — ``hinted`` is True when the side
    carries a broadcast hint, which callers use to pick the chain loop
    shape (consecutive BHJs fuse) over the exit-branch shuffle fallback.

    ``True``/``False`` force broadcast / shuffle; ``None`` (the default
    everywhere) broadcasts only under the explicit row cap — same policy,
    same cap, as dedup's membership join — and leaves the frame un-hinted
    above it so AQE plans the join from runtime sizes, degrading instead
    of OOMing the cluster.

    The cap check is a plain count over the scan+project plan, not a
    full-table localCheckpoint: the projection's lineage IS a parquet
    scan (callers run expensive lineage through _ensure_cheap first) and
    the PRE-check projection can be corpus-sized — the eager checkpoint
    write+read of the WHOLE projection was q22's constant factor at
    spans ×100. Once the cap check PASSES, though, the frame is ≤
    ``max_rows`` narrow rows by definition, and it IS materialized before
    the broadcast hint (r17): the old claim that every hop reuses the one
    built broadcast via ReusedExchange is empirically false on Spark 4.1
    + AQE for non-trivial lineages (q37 runtime plan: 12 builds, 4
    reused, 18 scans; q23: 6 builds, 1 reused — each hop rebuilt the
    build side from the scan). The materialize is FILE-backed
    (``prefer_file=True``), not a localCheckpoint: AQE's broadcast-stage
    cache also never matches ``Scan ExistingRDD`` children, so a
    checkpointed build still ran once per hop; a FileScan canonicalizes
    by location, collapsing the hops to ONE build plus a ReusedExchange
    each (r17, measured on q37/q23 executed plans). ``multi_hop`` gates
    the file-backed flavor: a SINGLE-join caller (join_parent) has
    nothing to reuse, and the parquet round-trip is pure overhead over a
    localCheckpoint there (q22 interleaved A/B: 0.53 s → 0.71 s), so
    only the ≥2-hop resolvers pass True.

    ``ref_ids``: single-column (``_p_id``) frame of every id the probe
    side can look up — the union of parent pointers. A build row whose id
    no probe key references can only produce a left-join miss, so when
    the projection is large (> PRUNE_BUILD_ROWS) it is semi-joined to
    ``ref_ids`` first: leaf spans (the bulk of a real trace table) never
    enter the build, which is routinely the difference between a
    broadcastable build and a per-hop shuffle join at 100 TB. The pruned
    frame is checkpointed (narrow id/name rows — cheap) so the cap
    re-check and the broadcast build don't each re-run the semi join, and
    the CAP APPLIES TO THE PRUNED SIZE — what actually ships to
    executors — so a 10 M-span table whose referenced-parent set is 1 M
    still gets the broadcast plan (measured 2× on q22 at spans ×100)."""
    if broadcast_parents is None:
        n = parents.count()
        already_mat = False
        if ref_ids is not None and n > PRUNE_BUILD_ROWS:
            # ref_ids may be a THUNK: building the prune set can itself be
            # expensive (a window-fed probe's parent pointers), and it is
            # only needed on this branch — callers defer materialization
            # decisions into the callable (resolve_agent_name checkpoints
            # its probe inside the thunk exactly when the prune fires)
            refs = ref_ids() if callable(ref_ids) else ref_ids
            parents = materialize(
                parents.join(
                    refs.filter(F.col("_p_id").isNotNull()), "_p_id", "semi"
                ),
                prefer_file=multi_hop,
            )
            n = parents.count()
            already_mat = True
        hinted = n <= max_rows
        if hinted and not already_mat:
            if multi_hop:
                # bounded by the cap that just passed (≤ max_rows narrow
                # rows): one FILE-materialized copy that the first hop's
                # broadcast build reads and every later hop REUSES — see
                # the reuse note in the docstring. prefer_file, not
                # localCheckpoint, because AQE's broadcast-stage cache
                # never matches LogicalRDD children (r17, measured):
                # checkpointed builds ran once per hop even over the
                # identical RDD, while FileScan subtrees canonicalize by
                # location and collapse to one build + ReusedExchange per
                # extra hop. An input that arrives already checkpointed
                # (callers' _ensure_cheap) still takes the file
                # round-trip — the write is cap-bounded and buys the
                # per-hop builds + broadcast ship-outs back.
                parents = materialize(parents, prefer_file=True)
            elif "LogicalRDD" not in (
                parents._jdf.queryExecution().optimizedPlan().toString()
            ):
                # single-join caller: nothing reuses, so the cheaper
                # localCheckpoint stands (skip when the input is already
                # a checkpoint — the one build re-scans it for free)
                parents = materialize(parents)
        return (F.broadcast(parents) if hinted else parents), n, hinted
    return (
        (F.broadcast(parents) if broadcast_parents else parents),
        None,
        bool(broadcast_parents),
    )


def join_parent(
    spans: DataFrame,
    *,
    broadcast_parents: bool | None = None,
    max_broadcast_parent_rows: int = PARENT_BROADCAST_CAP,
    trace_col: str | None = None,
    validate_trace: bool = True,
) -> DataFrame:
    """J1+J2 (reference :454-458, :511-526): attach the parent span's name as
    ``parent_span_name`` via a broadcast hash join — the Spark equivalent of
    the reference's whole-file span_id→span dict. Build-side policy:
    :func:`_parent_side` (cap-checked broadcast by default).

    ``trace_col``: trace-co-located mode. A span's parent always lives in
    the SAME trace (Langfuse semantics; the reference indexes within one
    trace's span list, :454-458), so naming the trace-id column adds it to
    the join keys — semantically a no-op, but over a span table stored
    BUCKETED on ``trace_col`` (sources.bucketed.write_bucketed) the join
    keys now contain the bucket key and the parent join plans with ZERO
    exchange (session.py sets requireAllClusterKeysForCoPartition=false):
    each bucket zips against itself locally. That is the 100 TB at-rest
    layout for span stores — no broadcast build, no cap policy, and no
    shuffle whose cost grows with table size; skew is bounded by the
    largest single trace. Requires non-null trace ids (a null trace
    cannot co-locate and would lose its parent edge — enforced by
    :func:`_require_colocatable` unless ``validate_trace=False``)."""
    spans = _ensure_cheap(spans)
    if trace_col is not None:
        _require_colocatable(spans, trace_col, validate_trace)
        # hint("shuffle_hash"): sorted trace/span ids delta-compress so
        # well that the whole parent side can look broadcastable from file
        # stats — and broadcasting the FULL table is exactly what this
        # layout exists to avoid. The hint pins a bucket-local hash join:
        # with both sides' bucket partitioning already satisfying the
        # distribution it is exchange-free AND sort-free (measured faster
        # than the merge hint's per-bucket sorts), and the per-task hash
        # build is bounded by bucket size — the knob the table owner sizes
        # to executor memory at write time.
        parents = spans.select(
            F.col(trace_col).alias("_p_trace"),
            F.col("span_id").alias("_p_id"),
            F.col("span_name").alias("parent_span_name"),
        ).hint("shuffle_hash")
        return spans.join(
            parents,
            (spans[trace_col] == parents["_p_trace"])
            & (spans["parentObservationId"] == parents["_p_id"]),
            "left",
        ).drop("_p_trace", "_p_id")
    parents, _, _hinted = _parent_side(
        spans.select(
            F.col("span_id").alias("_p_id"),
            F.col("span_name").alias("parent_span_name"),
        ),
        broadcast_parents,
        max_broadcast_parent_rows,
        ref_ids=spans.select(F.col("parentObservationId").alias("_p_id")),
    )
    return spans.join(
        parents, spans["parentObservationId"] == parents["_p_id"], "left"
    ).drop("_p_id")


def _strip_subagent(col: F.Column) -> F.Column:
    return F.regexp_replace(col, f"^{SUBAGENT_PREFIX}", "")


def resolve_agent_name(
    spans: DataFrame,
    config_agents: list[str],
    *,
    max_hops: int = 6,
    parent_source: DataFrame | None = None,
    broadcast_parents: bool | None = None,
    max_broadcast_parent_rows: int = PARENT_BROADCAST_CAP,
    trace_col: str | None = None,
    validate_trace: bool = True,
) -> DataFrame:
    """J3 (reference :460-509): walk each span's parent chain; the agent name
    is the first ancestor whose span_name (case-insensitively, after
    stripping the 'Sub-agent: ' prefix) matches a configured agent; falls
    back to the immediate parent's stripped name (J2 behavior) when no
    ancestor matches.

    Build-side policy: :func:`_parent_side` — the default (``None``)
    broadcasts the 3-column parent projection only under the capped-
    broadcast row cap and falls back to AQE shuffle joins above it;
    ``True``/``False`` force either branch.

    Iterative broadcast self-join to a bounded fixpoint — tree depth is ≤ ~5
    in the reference data, so ``max_hops`` caps the loop; each hop joins only
    the still-unresolved rows against the projected parent table.

    ``parent_source``: the UNFILTERED span table to resolve parents against
    (the reference indexes the whole file, :454-458); defaults to ``spans``
    itself, which is only correct when nothing has been filtered out yet.

    ``trace_col``: trace-co-located mode (see :func:`join_parent` /
    :func:`resolve_root`) — every hop joins on (trace, cursor=span), so a
    probe and parent source both stored bucketed on the trace column walk
    ancestors with zero exchange and no broadcast build.
    """
    agents_lc = [a.lower() for a in config_agents]
    distinct_source = parent_source is not None and parent_source is not spans
    probe_in = spans
    if distinct_source:
        # Probe-checkpoint decision DEFERRED: when the loop runs as a
        # straight-through chain the probe is consumed exactly once, so
        # materializing an expensive (window-fed) probe is pure cost there
        # — the r10 "+0.5 s small-data tax" existed only because the exit-
        # branch unions re-read the probe per branch, and the chain has no
        # branches. The shuffle fallback (branch loop) still re-reads it,
        # so it checkpoints below once the build policy is known.
        source = _ensure_cheap(parent_source)
    else:
        # probe IS the parent source: the cap count + build read its
        # lineage regardless of loop shape — materialize expensive inputs
        spans = _ensure_cheap(spans)
        source = spans
    # every hop's cursor is a parentObservationId value — of the probe rows
    # at hop 0, of the parent rows after — so the union of parent pointers
    # over both frames bounds what any hop can look up (sound prune set)
    if trace_col is not None:
        if distinct_source and validate_trace:
            # the guard's isEmpty job would otherwise re-execute an
            # expensive probe lineage that the chain then computes AGAIN —
            # materializing once costs one checkpoint write and both reads
            # hit it (r12 review finding)
            spans = _ensure_cheap(spans)
        _require_colocatable(spans, trace_col, validate_trace)
        if distinct_source:
            _require_colocatable(source, trace_col, validate_trace)
        # shuffle_hash hint: see join_parent — pins the exchange-free,
        # sort-free bucket-local hash join over a broadcast of the full
        # parent table
        parents = source.select(
            F.col(trace_col).alias("_p_trace"),
            F.col("span_id").alias("_p_id"),
            F.col("span_name").alias("_p_name"),
            F.col("parentObservationId").alias("_p_parent"),
        ).hint("shuffle_hash")
        drop_cols = ("_p_trace", "_p_id", "_p_name", "_p_parent")
        hinted = False  # irrelevant in trace mode (chain regardless)
    else:
        if distinct_source:
            # thunk, not a frame: the prune set includes the PROBE's parent
            # pointers (hop-0 cursors), and reading them off an expensive
            # probe lineage should (a) happen only if the prune fires at
            # all and (b) materialize the probe ONCE for both the prune
            # and the loop — the nonlocal assignment hands the
            # checkpointed frame to everything built after this call
            def refs():
                nonlocal spans
                spans = _ensure_cheap(spans)
                return source.select(
                    F.col("parentObservationId").alias("_p_id")
                ).union(spans.select(F.col("parentObservationId").alias("_p_id")))

        else:
            refs = source.select(F.col("parentObservationId").alias("_p_id"))
        parents, _, hinted = _parent_side(
            source.select(
                F.col("span_id").alias("_p_id"),
                F.col("span_name").alias("_p_name"),
                F.col("parentObservationId").alias("_p_parent"),
            ),
            broadcast_parents,
            max_broadcast_parent_rows,
            ref_ids=refs,
            multi_hop=True,
        )
        drop_cols = ("_p_id", "_p_name", "_p_parent")

    use_chain = trace_col is not None or hinted
    if distinct_source and not use_chain:
        # shuffle fallback re-reads the probe per exit branch — NOW the
        # deferred checkpoint pays (see the head of the function)
        spans = _ensure_cheap(spans)
    # isEmpty is a separate job, and a separate job REBUILDS the broadcast
    # side — worth it only when the probe was just materialized (fat
    # checkpoint branch scans are what the early exit saves); over a lazy
    # parquet-scan probe the no-op tail hops are cheaper than the check
    probe_materialized = spans is not probe_in

    init = (
        spans.withColumn("_cursor", F.col("parentObservationId"))
        .withColumn("agent_name", F.lit(None).cast("string"))
        .withColumn("_fallback", F.lit(None).cast("string"))
    )

    if use_chain:
        # straight-through chain, no exit branches — rationale in
        # resolve_root (the chain applies whenever per-hop probe traffic
        # is exchange-free: the bucket-local trace layout AND the
        # broadcast build, where consecutive BHJs against the one reused
        # broadcast fuse into a single codegen pass over the probe);
        # finished rows have a null cursor, which never matches, so they
        # stream through each probe untouched
        out = init
        for hop in range(max_hops):
            cond = F.col("_cursor") == parents["_p_id"]
            if trace_col is not None:
                cond = (out[trace_col] == parents["_p_trace"]) & cond
            joined = out.join(parents, cond, "left")
            stripped = _strip_subagent(F.col("_p_name"))
            matched = F.lower(stripped).isin(agents_lc)
            fallback = stripped if hop == 0 else F.col("_fallback")
            out = (
                joined.withColumn(
                    "agent_name",
                    F.coalesce(
                        F.col("agent_name"),
                        F.when(F.col("_p_name").isNotNull() & matched, stripped),
                    ),
                )
                .withColumn("_fallback", fallback)
                .withColumn(
                    "_cursor",
                    F.when(
                        F.col("agent_name").isNotNull(), F.lit(None).cast("string")
                    ).otherwise(F.col("_p_parent")),
                )
                .drop(*drop_cols)
            )
        return out.withColumn(
            "agent_name", F.coalesce(F.col("agent_name"), F.col("_fallback"))
        ).drop("_cursor", "_fallback")

    # Rows exit the loop the moment they can no longer advance (matched an
    # agent, or ran out of ancestors) and are unioned back at the end, so
    # each hop joins ONLY the still-unresolved rows — no wasted probe
    # traffic under broadcast, and no null-cursor rows entering the
    # over-cap shuffle branch's exchange, where they would all hash to one
    # partition (self-inflicted skew exactly at the scale the shuffle
    # branch exists for). One merged exit branch per hop (resolved OR out
    # of ancestors), and the loop short-circuits via isEmpty() once
    # pending drains — a trace forest of depth d pays d hops, not
    # max_hops (the converter's depth-1 traces paid 5 no-op hops and 10
    # extra branch scans of the fat probe checkpoint before this). The
    # exit branches stay LAZY: per-hop localCheckpoint measured 8× worse
    # (block writes of near-full-width pending rows).
    done: list[DataFrame] = [init.filter(F.col("_cursor").isNull())]
    pending = init.filter(F.col("_cursor").isNotNull())
    for hop in range(max_hops):
        joined = pending.join(parents, F.col("_cursor") == parents["_p_id"], "left")
        stripped = _strip_subagent(F.col("_p_name"))
        matched = F.lower(stripped).isin(agents_lc)
        fallback = stripped if hop == 0 else F.col("_fallback")
        joined = (
            joined.withColumn(
                "agent_name",
                F.when(F.col("_p_name").isNotNull() & matched, stripped),
            )
            .withColumn("_fallback", fallback)
            .withColumn(
                "_cursor",
                F.when(
                    F.col("agent_name").isNotNull(), F.lit(None).cast("string")
                ).otherwise(F.col("_p_parent")),
            )
            .drop(*drop_cols)
        )
        done.append(
            joined.filter(
                F.col("agent_name").isNotNull() | F.col("_cursor").isNull()
            )
        )
        pending = joined.filter(
            F.col("agent_name").isNull() & F.col("_cursor").isNotNull()
        )
        if probe_materialized and hop < max_hops - 1 and pending.isEmpty():
            break
    done.append(pending)
    out = reduce(DataFrame.unionByName, done)
    return out.withColumn(
        "agent_name", F.coalesce(F.col("agent_name"), F.col("_fallback"))
    ).drop("_cursor", "_fallback")


def resolve_root(
    spans: DataFrame,
    *,
    id_col: str = "span_id",
    parent_col: str = "parentObservationId",
    max_hops: int = 6,
    out_col: str = "root_id",
    broadcast_parents: bool | None = None,
    max_broadcast_parent_rows: int = PARENT_BROADCAST_CAP,
    trace_col: str | None = None,
    validate_trace: bool = True,
) -> DataFrame:
    """J3 companion: resolve each span's root ancestor by iterative broadcast
    self-join (bounded depth). Rows whose parent is null are their own root.
    Build-side policy: :func:`_parent_side` (cap-checked broadcast by
    default; ``False`` forces shuffle joins for span tables whose 2-column
    projection outgrows executor memory).

    ``trace_col``: trace-co-located mode (see :func:`join_parent`). Every
    hop joins on (trace, cursor=span); over a table bucketed on
    ``trace_col`` the FIRST hop is exchange-free and each hop's output
    keeps the bucket partitioning, so the ENTIRE multi-hop walk plans with
    zero exchange — the walk cost stops growing with table size and is
    bounded by trace size instead."""
    probe_in = spans
    spans = _ensure_cheap(spans)
    probe_materialized = spans is not probe_in  # see resolve_agent_name
    if trace_col is not None:
        _require_colocatable(spans, trace_col, validate_trace)
        # shuffle_hash hint: see join_parent — pins the exchange-free,
        # sort-free bucket-local hash join over a broadcast of the full
        # parent table
        parents = spans.select(
            F.col(trace_col).alias("_p_trace"),
            F.col(id_col).alias("_p_id"),
            F.col(parent_col).alias("_p_parent"),
        ).hint("shuffle_hash")
        drop_cols = ("_p_trace", "_p_id", "_p_parent")
    else:
        parents, _, hinted = _parent_side(
            spans.select(
                F.col(id_col).alias("_p_id"), F.col(parent_col).alias("_p_parent")
            ),
            broadcast_parents,
            max_broadcast_parent_rows,
            ref_ids=spans.select(F.col(parent_col).alias("_p_id")),
            multi_hop=True,
        )
        drop_cols = ("_p_id", "_p_parent")
    init = spans.withColumn(out_col, F.col(id_col)).withColumn(
        "_cursor", F.col(parent_col)
    )
    if trace_col is not None or hinted:
        # Straight-through chain, NO exit branches. The lazy branch union
        # is ONLY right for the over-cap shuffle fallback, where it keeps
        # resolved/null-cursor rows out of the per-hop exchange (null-key
        # skew) — everywhere the per-hop probe is exchange-free it loses:
        # * bucket-local trace layout: branch k re-runs k hash joins,
        #   turning d hops into O(d²) joins (3.6 s vs 2.0 s at ×100);
        # * broadcast build: consecutive BHJs against the ONE reused
        #   broadcast fuse into a single codegen pass over the probe, so
        #   the chain reads the probe once and never re-executes branch
        #   prefixes (6.0 s vs 3.6 s at spans ×100) — and because the
        #   probe is consumed exactly once, no materialization of it is
        #   needed for the loop itself.
        # A null cursor never equals a parent id, so finished rows stream
        # through each probe untouched — d joins, executed once.
        out = init
        for _ in range(max_hops):
            cond = F.col("_cursor") == parents["_p_id"]
            if trace_col is not None:
                cond = (out[trace_col] == parents["_p_trace"]) & cond
            out = (
                out.join(parents, cond, "left")
                .withColumn(out_col, F.coalesce(F.col("_p_id"), F.col(out_col)))
                .withColumn("_cursor", F.col("_p_parent"))
                .drop(*drop_cols)
            )
        return out.drop("_cursor")
    # same exit discipline as resolve_agent_name: rows whose cursor is null
    # are at their root and leave the loop — later hops join only rows that
    # still have an ancestor to walk (lazy branches + isEmpty
    # short-circuit; see the note there on why per-hop materialization is
    # deliberately absent).
    done: list[DataFrame] = [init.filter(F.col("_cursor").isNull())]
    pending = init.filter(F.col("_cursor").isNotNull())
    for hop in range(max_hops):
        pending = (
            pending.join(parents, F.col("_cursor") == parents["_p_id"], "left")
            .withColumn(out_col, F.coalesce(F.col("_p_id"), F.col(out_col)))
            .withColumn("_cursor", F.col("_p_parent"))
            .drop(*drop_cols)
        )
        done.append(pending.filter(F.col("_cursor").isNull()))
        pending = pending.filter(F.col("_cursor").isNotNull())
        if probe_materialized and hop < max_hops - 1 and pending.isEmpty():
            break
    done.append(pending)
    return reduce(DataFrame.unionByName, done).drop("_cursor")


def agent_distribution(spans: DataFrame) -> DataFrame:
    """A2 (reference :1857-1877): agent_name → count."""
    return spans.groupBy("agent_name").agg(F.count("*").alias("n"))


def sort_chronologically(spans: DataFrame) -> DataFrame:
    """O1 (reference langfuse_utils.py:102): global order by startTime.
    Total order via range partitioning — only use on bounded outputs."""
    return spans.orderBy(F.to_timestamp("startTime"), F.col("span_id"))


def number_rows(df: DataFrame, *, order_col: str, out_col: str = "seq") -> DataFrame:
    """W2/W3 (reference get_trace.py:44-56, pipeline.py:796-804): sequential
    numbering. Single-partition window — apply only to small/pre-aggregated
    frames (the reference numbers per-trace files, which are tiny).
    For large frames use :func:`number_rows_scalable`."""
    return df.withColumn(
        out_col, F.row_number().over(W.orderBy(F.col(order_col)))
    )


def number_rows_scalable(
    df: DataFrame, *, order_col: str, out_col: str = "seq"
) -> DataFrame:
    """Global sequential numbering WITHOUT the single-partition window.

    Three steps, all distributed: (1) `repartitionByRange(order_col)` gives a
    total order across partitions (partition i's values all precede partition
    i+1's); (2) `row_number()` per partition is local — no data movement;
    (3) per-partition row counts (one row per partition) turn into cumulative
    offsets on the driver-sized side and broadcast back. Equivalent to
    `number_rows` whenever ``order_col`` is unique (ties across a partition
    boundary are otherwise ordered arbitrarily, as with any non-total order).
    """
    ranged = df.repartitionByRange(F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("_pid").orderBy(F.col(order_col))
    local = ranged.withColumn("_local", F.row_number().over(w_local))
    # one row per partition: the window below is over #partitions rows
    offsets = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        # long, not int: this function exists FOR frames too big to window —
        # an int cast would silently wrap past 2^31-1 rows
        .withColumn(out_col, (F.col("_local") + F.col("_off")).cast("long"))
        .drop("_pid", "_local", "_off")
    )
