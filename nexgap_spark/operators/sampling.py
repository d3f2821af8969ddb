"""Stochastic-selection operators (SURVEY §2.10, R1-R6) — seeded and
round-based so results are reproducible and oracle-comparable.

The reference samples one row at a time with in-memory histograms guarded by
file locks (sampling_manager.py:192-228, file_lock.py:109-160). Spark-first:
counts are frozen per round (the reference itself only flushes every 10
samples, tree_manager.py:390-392), sampling is a cumulative-weight
inverse-CDF window, and the histogram merge is a shuffle aggregation —
no locks at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Distinct default seeds per operator: F.rand(seed) is a pure function of
# (partition, row position), so two operators sharing one default seed over
# the same DataFrame draw IDENTICAL uniforms per row — e.g. the truncation
# draw would fully determine the categorical pick. Each marginal looks fine;
# the joint distribution is degenerate. Callers overriding seeds should
# keep them distinct per operator for the same reason.
SEED_TRUNCATE = 137
SEED_PICK = 211


def inverse_frequency_weights(
    counts: DataFrame,
    *,
    cnt_col: str = "cnt",
    out_col: str = "prob",
    exponent: float = 1.5,
    round_to: int | None = None,
) -> DataFrame:
    """R2: weight = 1/(count+1)^exponent, normalized to probabilities
    (reference sampling_manager.py:192-220).

    The normalizer is a ONE-ROW aggregate broadcast back (the accepted
    1-row crossJoin idiom), not ``SUM OVER ()`` — the empty-partition
    window logs Spark's single-partition WindowExec warning on every run
    (VERDICT r15 item 7) and moves the table to one partition for no
    reason. Sum-order float residue is ~1e-17, far below the round_to
    digits every consumer applies."""
    w = F.lit(1.0) / F.pow(F.col(cnt_col) + 1, exponent)
    total = counts.agg(F.sum(w).alias("_w_total"))
    prob = w / F.col("_w_total")
    if round_to is not None:
        prob = F.round(prob, round_to)
    return counts.crossJoin(F.broadcast(total)).withColumn(out_col, prob).drop(
        "_w_total"
    )


def keyed_running_sum(
    df: DataFrame,
    *,
    key_col: str,
    val_col: str,
    out_col: str = "cum",
) -> DataFrame:
    """Cumulative sum of ``val_col`` in ``key_col`` order, WITHOUT the
    global-order window — plus an ``_is_last`` flag marking the final row.

    ``SUM OVER (ORDER BY key ROWS UNBOUNDED PRECEDING)`` with no partition
    logs Spark's single-partition WindowExec warning on every run (two
    rounds of bench logs carried the noise — VERDICT r15 item 7). The
    tables this serves are histograms (one row per distinct key), so the
    Spark-native shape is a ONE-ROW aggregate: sort_array(collect_list(
    struct(key, val))) builds the ordered table map-side (partial
    collect_list per input partition, one tiny merge), posexplode restores
    the rows, and a sequential ``aggregate`` fold over each row's array
    prefix reproduces the window's running sum BIT-IDENTICALLY (same
    addition order as the window: ((0.0+v1)+v2)+...). The prefix fold is
    O(k²) in the DISTINCT-KEY count — histogram-sized by contract, never
    rows-scale; callers aggregate first.

    Keys must be unique (a histogram): with duplicate keys the struct sort
    tiebreaks on the value, which a pure ORDER BY key window leaves
    unspecified anyway."""
    packed = df.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(key_col).alias("k"), F.col(val_col).alias("v")))
        ).alias("_rows")
    )
    return (
        packed.select(F.col("_rows"), F.posexplode("_rows").alias("_pos", "_r"))
        .select(
            F.col("_r.k").alias(key_col),
            F.col("_r.v").alias(val_col),
            F.expr(
                "aggregate(slice(_rows, 1, _pos + 1), cast(0.0 as double),"
                " (acc, x) -> acc + x.v)"
            ).alias(out_col),
            (F.col("_pos") == F.size("_rows") - 1).alias("_is_last"),
        )
    )


def weighted_sample(
    weighted: DataFrame,
    *,
    n: int,
    key_col: str,
    prob_col: str = "prob",
    seed: int = 42,
) -> DataFrame:
    """R2+W4: draw ``n`` independent weighted picks via inverse-CDF.

    Build the cumulative distribution once (one-row aggregate fold over the
    weights table, small by construction — it is a histogram; see
    keyed_running_sum), generate ``n`` seeded uniform
    draws, and range-join each draw to the first CDF row covering it.
    Returns (draw_id, key). Deterministic for a fixed seed AND cluster size
    (draws live on one fixed partition — rand(seed) depends on partition
    layout, so `spark.range(n)`'s parallelism-dependent split would give a
    different sample on a different cluster).

    The last CDF interval is clamped to [cum_lo, ∞): probabilities that sum
    just under 1.0 (float residue, or materially under round_to) would
    otherwise leave draws in the uncovered tail matched to NO key — each
    synthesis round would silently produce fewer than ``n`` picks.

    Scale: the CDF table is tiny (one row per distinct key) → broadcast;
    n is a per-round batch size, so single-partition draw generation is
    never the bottleneck.
    """
    spark = weighted.sparkSession
    cdf = (
        # zero-probability keys (round_to can floor rare keys to 0.0) must
        # never be pickable — and dropping them makes cum_hi STRICTLY
        # increasing, so the ∞-clamp below hits exactly one row. With them
        # kept, a trailing zero-width interval shares max(cum_hi) and the
        # clamp would produce overlapping [max, ∞) rows: one tail draw
        # would match several keys and return > n picks.
        keyed_running_sum(
            weighted.select(key_col, prob_col).filter(F.col(prob_col) > 0),
            key_col=key_col,
            val_col=prob_col,
            out_col="cum_hi",
        )
        .withColumn("cum_lo", F.col("cum_hi") - F.col(prob_col))
        .withColumn(
            "cum_hi",
            F.when(F.col("_is_last"), F.lit(float("inf"))).otherwise(
                F.col("cum_hi")
            ),
        )
        .drop("_is_last")
    )
    draws = spark.range(0, n, 1, 1).select(
        F.col("id").alias("draw_id"), F.rand(seed).alias("u")
    )
    return (
        draws.join(
            F.broadcast(cdf),
            (F.col("u") >= F.col("cum_lo")) & (F.col("u") < F.col("cum_hi")),
            "left",
        )
        .select("draw_id", key_col)
    )


def merge_histogram(prior: DataFrame, delta: DataFrame, *, key_cols: list[str], cnt_col: str = "cnt") -> DataFrame:
    """A3: delta-merge of sampling histograms. The reference does
    flock → reload → add → write (sampling_manager.py:124-129); here the
    commutative sum makes the shuffle aggregation the merge."""
    return (
        prior.select(*key_cols, cnt_col)
        .unionByName(delta.select(*key_cols, cnt_col))
        .groupBy(*key_cols)
        .agg(F.sum(cnt_col).alias(cnt_col))
    )


def truncate_trace(
    paths: DataFrame,
    *,
    nodes_col: str = "node_ids",
    seed: int = SEED_TRUNCATE,
    min_nodes: int = 3,
) -> DataFrame:
    """R3: random trace truncation (reference tree_manager.py:488-527):
    keep a random STRICT prefix of length in [2, len-1] (min 3 nodes
    enforced on the input), last kept node becomes the problem type. The
    least() clamp keeps the prefix strict even for min_nodes=2 inputs
    (size-2 == 0 would otherwise keep the whole path)."""
    size = F.size(F.col(nodes_col))
    keep = F.least(
        (F.lit(2) + F.floor(F.rand(seed) * (size - F.lit(2)))).cast("int"),
        (size - F.lit(1)).cast("int"),
    )
    truncated = F.slice(F.col(nodes_col), 1, keep)
    return (
        paths.filter(size >= min_nodes)
        .withColumn("truncated_nodes", truncated)
        .withColumn("problem_type", F.element_at("truncated_nodes", -1))
    )


def pick_by_distribution(
    df: DataFrame,
    *,
    distribution: dict[str, float],
    out_col: str = "difficulty",
    seed: int = SEED_PICK,
) -> DataFrame:
    """R4: difficulty-weighted selection (reference
    query_synthesis_agent.py:155-186, default {easy .2, medium .5, hard .3}).
    Validates the distribution at plan time like the reference's CLI
    (main.py:58-124), then assigns per row by inverse-CDF on rand(seed)."""
    if abs(sum(distribution.values()) - 1.0) > 1e-9:
        raise ValueError(f"distribution must sum to 1, got {distribution}")
    # Materialize ONE draw per row, then branch on it. Reusing the F.rand(seed)
    # expression across chained when() conditions can re-draw per occurrence
    # under interpreted evaluation, distorting the branch probabilities.
    ucol = f"__u_{out_col}"
    df = df.withColumn(ucol, F.rand(seed))
    expr = None
    cum = 0.0
    for key, p in distribution.items():
        cum += p
        cond = F.col(ucol) < F.lit(cum)
        expr = F.when(cond, F.lit(key)) if expr is None else expr.when(cond, F.lit(key))
    # float-edge fallback: last key
    expr = expr.otherwise(F.lit(list(distribution)[-1]))
    return df.withColumn(out_col, expr).drop(ucol)


def deterministic_sample(
    df: DataFrame,
    *,
    key_col: str,
    hex_threshold: str = "1999",
) -> DataFrame:
    """Content-hash sampling: keep rows whose md5(key) hex prefix sorts below
    ``hex_threshold`` ("1999" ≈ 0x1999/0x10000 ≈ 10%). Unlike ``rand(seed)``
    this is a pure function of the key — the same rows survive across engines,
    runs, cluster sizes, and partial re-reads, which is what an incremental
    100 TB pipeline needs (re-sampling a re-ingested shard picks identical
    rows, so downstream dedup stays stable). Pure codegen'd filter: pushes
    past projections and costs no shuffle."""
    h = F.md5(F.col(key_col).cast("string"))
    return df.filter(F.substring(h, 1, len(hex_threshold)) < F.lit(hex_threshold))


def stratified_sample(
    df: DataFrame,
    *,
    strata_cols: list[str],
    key_col: str,
    fraction: float,
) -> DataFrame:
    """Deterministic per-stratum sample: rank rows inside each stratum by
    md5(key) and keep the first ceil(n_stratum × fraction). Guarantees every
    stratum is represented at the exact fraction (±1 row) — ``sampleBy``
    only hits the fraction in expectation and misses small strata entirely.

    One shuffle on the strata key; the rank and per-stratum count windows
    share that partitioning so no second exchange."""
    w = W.partitionBy(*strata_cols)
    h = F.md5(F.col(key_col).cast("string"))
    ranked = df.withColumn(
        "_rk", F.row_number().over(w.orderBy(h, F.col(key_col)))
    ).withColumn("_n", F.count("*").over(w))
    return ranked.filter(
        F.col("_rk") <= F.ceil(F.col("_n") * F.lit(fraction))
    ).drop("_rk", "_n")


def rebalance_groups(
    df: DataFrame,
    *,
    group_col: str,
    key_col: str,
    target: int | None = None,
) -> DataFrame:
    """Rebalance a skewed corpus to a uniform per-group size: keep at most
    ``target`` rows per group (default: the size of the smallest group),
    chosen deterministically by content-hash rank — the domain-mixture
    step of a pre-training data pipeline, reproducible across runs and
    engines.

    One shuffle for the per-group window; the group-size floor is a tiny
    broadcast. Rank by md5(key) ≡ an unbiased uniform draw without RNG.
    """
    if target is None:
        floor_df = F.broadcast(
            df.groupBy(group_col)
            .count()
            .agg(F.min("count").cast("long").alias("_target"))
        )
        df = df.join(floor_df)
    else:
        df = df.withColumn("_target", F.lit(target).cast("long"))
    w = W.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), key_col
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_target"))
        .drop("_rk", "_target")
    )
