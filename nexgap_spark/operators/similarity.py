"""Embedding similarity search (scale extension): brute-force cosine top-k as
the exact baseline, IVF (coarse-quantizer cluster routing) as the scale path,
and blocked near-duplicate detection.

Two pieces are shared by every vector operator here and in operators/pq.py:
the centroid router (`assign_clusters` and the per-batch `_route` behind
it) and the top-k skeleton (`_group_queries` → `_topk_partials` →
`_merge_topk`). Every score comes from the sequential-fold helpers
(`_seq_score_block`, `_seq_sqrt_norms`, or the flat `dot` chain on the
SQL side), so cosines are bit-identical to the DuckDB oracle's ordered
fold. The quadratic stages are explicitly bounded (query subset × corpus,
or within-cluster only).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nexgap_spark.session import fan_out_python_stage


DEFAULT_DIM = 64

# Hard ceiling on any "small side by contract" collect. 200k rows × 64-dim
# float64 ≈ 100 MB on the driver / in a broadcast — the practical broadcast
# limit. Past it, the caller should pre-cluster or batch the query set;
# silently collecting an unbounded side is how a driver OOMs at 100 TB.
SMALL_SIDE_MAX_ROWS = 200_000


def _collect_small_side(df: DataFrame, cols: list, what: str, cap: int | None = None):
    """Enforce the small-side contract instead of assuming it: collect via
    limit(cap+1) so an oversized side costs one extra row, not an OOM."""
    cap = SMALL_SIDE_MAX_ROWS if cap is None else cap
    pdf = df.select(*cols).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"{what} exceeds the small-side contract ({cap} rows): "
            "batch the queries or pre-reduce (e.g. cluster) before top-k"
        )
    return pdf


def dot(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    """Σ aᵢ·bᵢ as double, strict left-to-right addition.

    Expanded into a flat expression chain rather than F.aggregate/zip_with:
    Spark's array higher-order functions are interpreted per element (no
    whole-stage codegen), which made them the bottleneck of every pairwise
    stage. The chain keeps the exact sequential add order, so results stay
    bit-identical to the ordered-fold DuckDB oracle."""
    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def norm(a: Column, dim: int = DEFAULT_DIM) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def _seq_sqrt_norms(m: np.ndarray) -> np.ndarray:
    """sqrt(Σ x²) accumulated sequentially over dimensions (oracle order)."""
    acc = m[:, 0] * m[:, 0]
    for i in range(1, m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return np.sqrt(acc)


def _seq_score_block(qm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    """|Q|×|C| dot-product block, one vectorized add per dimension —
    bit-identical per pair to the ordered left-to-right fold.

    In-place accumulation into preallocated buffers: the naive
    ``acc = acc + q*c`` shape allocates two |Q|×|C| temporaries per
    dimension — at 1000 queries × 31k rows × 768 dims that is ~576 GB of
    allocator traffic per partition, which made the high-dim ground-truth
    pass allocation-bound. ``np.multiply(..., out=)`` + ``+=`` keeps the
    same additions in the same order (bit-identical results; the parity
    tests pin this) at ~2x the throughput."""
    acc = qm[:, 0][:, None] * cm[:, 0][None, :]
    tmp = np.empty_like(acc)
    for i in range(1, qm.shape[1]):
        np.multiply(qm[:, i][:, None], cm[:, i][None, :], out=tmp)
        acc += tmp
    return acc


def _np_assign_topm(
    mat: np.ndarray, cent_ids: np.ndarray, cent_mat: np.ndarray, m: int
) -> list[np.ndarray]:
    """Per row: the ids of its ``m`` nearest centroids (max cosine, ties →
    lowest id, matching ROW_NUMBER ... ORDER BY cos DESC, c_id), nearest
    first."""
    cos = _seq_score_block(mat, cent_mat) / (
        _seq_sqrt_norms(mat)[:, None] * _seq_sqrt_norms(cent_mat)[None, :]
    )
    return [cent_ids[np.lexsort((cent_ids, -row))[:m]] for row in cos]


def _np_assign(mat: np.ndarray, cent_ids: np.ndarray, cent_mat: np.ndarray) -> np.ndarray:
    """Nearest-centroid id per row (:func:`_np_assign_topm` with m = 1)."""
    return np.array(
        [best[0] for best in _np_assign_topm(mat, cent_ids, cent_mat, 1)],
        dtype=cent_ids.dtype,
    )


# ---------------------------------------------------------------------------
# The centroid router: one rule for every operator that maps vectors to
# centroids (assign_clusters, kmeans_update, semantic_dedup, the IVF
# builds and probes). A vector is routable when its embedding is non-NULL
# with at least ``dim`` components; it routes on its first ``dim``
# components to the max-cosine centroid, ties to the lowest centroid id.
# Anything else gets a NULL centroid id. Small matrices reach the workers
# by closure capture: PySpark ships a closure over its 1 MB broadcast
# threshold as a broadcast tied to the stage's lifetime, so no operator
# manages a broadcast of its own.
# ---------------------------------------------------------------------------


def _key(v):
    """numpy scalar → Python scalar, so dict keys match across sides."""
    return v.item() if hasattr(v, "item") else v


def _usable(vals: np.ndarray, dim: int) -> np.ndarray:
    """Mask of array cells that are non-NULL with at least ``dim`` components."""
    return np.fromiter(
        (v is not None and len(v) >= dim for v in vals), dtype=bool, count=len(vals)
    )


def _matrix(vals: np.ndarray, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix of the first ``dim`` components of usable
    cells — per-row slicing, so ragged cells longer than ``dim`` are fine."""
    return np.array(
        [np.asarray(v, dtype=np.float64)[:dim] for v in vals]
    ).reshape(len(vals), dim)


def _collect_centroids(
    centroids: DataFrame, *, centroid_id_col: str, vec_col: str, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Driver half of the router: (ids, (K, dim) matrix) of the usable
    centroids, collected once under the small-side cap."""
    pdf = _collect_small_side(
        centroids,
        [F.col(centroid_id_col).alias("_c_id"), F.col(vec_col).alias("_c_vec")],
        "centroid side",
    )
    vecs = pdf["_c_vec"].to_numpy()
    ok = _usable(vecs, dim)
    return pdf["_c_id"].to_numpy()[ok], _matrix(vecs[ok], dim)


def _route(
    vals: np.ndarray, c_ids: np.ndarray, c_mat: np.ndarray, dim: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Executor half of the router, per Arrow batch: (mask of routable
    cells, their (n, dim) matrix, their centroid ids). No cell is routable
    when no centroid is."""
    ok = _usable(vals, dim) & (len(c_ids) > 0)
    mat = _matrix(vals[ok], dim)
    return ok, mat, _np_assign(mat, c_ids, c_mat)


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """IVF coarse quantization: route each vector to its nearest centroid
    (max cosine over the first ``dim`` components; ties → lowest centroid
    id). Output: ``[id, payload..., centroid_id]``, the id typed as in the
    centroid table.

    One Arrow stage over the corpus: the centroid table is collected once
    (small by contract) and each batch is scored as one |batch|×K block
    with the sequential fold, so cosines are bit-identical to the DuckDB
    oracle's ordered fold. Rows whose embedding is NULL or shorter than
    ``dim`` get a NULL centroid id: they stay in the output, but no
    cluster-keyed consumer (dedup pair scan, index probe) ever reads them.
    """
    from pyspark.sql.types import StructField, StructType

    c_ids, c_mat = _collect_centroids(
        centroids, centroid_id_col=centroid_id_col, vec_col=vec_col, dim=dim
    )
    payload_cols = [c for c in vectors.columns if c != id_col]
    in_fields = {f.name: f for f in vectors.schema.fields}
    out_schema = StructType(
        [in_fields[id_col]]
        + [in_fields[c] for c in payload_cols]
        + [StructField(centroid_id_col, centroids.schema[centroid_id_col].dataType)]
    )
    in_cols = [id_col] + payload_cols

    def fn(batches):
        for pdf in batches:
            ok, _, assigned = _route(pdf[vec_col].to_numpy(), c_ids, c_mat, dim)
            ids = np.full(len(pdf), None, dtype=object)
            ids[ok] = assigned
            yield pdf[in_cols].assign(**{centroid_id_col: ids})

    return fan_out_python_stage(vectors).mapInPandas(fn, out_schema)


# ---------------------------------------------------------------------------
# The top-k skeleton shared by brute_force_topk, ivf_topk, the three
# indexed probes and pq.ivf_topk_indexed_pq: the queries are collected and
# grouped by probed centroid on the driver, the corpus streams once through
# an Arrow stage that scores each centroid group against its queries and
# keeps a partial top-k per query, and a ROW_NUMBER window merges the
# partials. Only the scorer differs per operator (float, int8, PQ).
# ---------------------------------------------------------------------------


def _group_queries(
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    route: tuple[np.ndarray, np.ndarray] | None = None,
    nprobe: int = 1,
) -> dict:
    """Driver half: collect the query side (small by contract) and group it
    by the ``nprobe`` centroids each query probes under ``route`` ((ids,
    matrix) from :func:`_collect_centroids`). Returns {centroid id: (query
    ids, query matrix, query norms)}; without a route, one group keyed None
    holds every query. Queries that are not routable are dropped."""
    q_pd = _collect_small_side(queries, [F.col(id_col), F.col(vec_col)], "query side")
    q_pd = q_pd[_usable(q_pd[vec_col].to_numpy(), dim)]
    if len(q_pd) == 0:
        return {}
    q_ids = q_pd[id_col].to_numpy()
    q_mat = np.stack(q_pd[vec_col].to_numpy()).astype(np.float64)
    q_norms = _seq_sqrt_norms(q_mat)
    if route is None:
        return {None: (q_ids, q_mat, q_norms)}
    members: dict = {}
    for qi, probed in enumerate(_np_assign_topm(q_mat[:, :dim], *route, max(1, nprobe))):
        for c in probed:
            members.setdefault(_key(c), []).append(qi)
    return {
        c: (q_ids[idx], q_mat[idx], q_norms[idx])
        for c, idx in ((c, np.array(v)) for c, v in members.items())
    }


def _probed(corpus: DataFrame, q_by_cent: dict) -> DataFrame:
    """Partition pruning: an indexed scan reads only the probed clusters'
    files (NULL-partition rows are never probed)."""
    return corpus.filter(F.col("centroid_id").isin(sorted(q_by_cent)))


def _float_score(vec_col: str):
    """Exact float cosine block of a group against its queries."""

    def score(cent, grp, qm, qn):
        cm = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
        return _seq_score_block(qm, cm) / (qn[:, None] * _seq_sqrt_norms(cm)[None, :])

    return score


def _topk_partials(
    df: DataFrame,
    q_by_cent: dict,
    score,
    *,
    k: int,
    id_col: str,
    q_id_type: str,
    groups=None,
    col: str = "cos",
) -> DataFrame:
    """Executor half: one Arrow pass over ``df``. Each batch splits into
    centroid groups (``groups(pdf)``; default: the stored ``centroid_id``
    column), ``score(centroid, rows, q_mat, q_norms)`` gives the
    |Q|×|rows| cosine block of the queries probing that centroid, and each
    query keeps its partial top-k: self-match excluded before the cut, ties
    to the lower neighbor id, non-finite scores (zero-norm vectors) dropped.
    Shuffle volume is O(|Q|·k·partitions), never O(|Q|·|C|)."""
    if groups is None:
        groups = lambda pdf: pdf.groupby("centroid_id")  # noqa: E731
    n_id_type = df.schema[id_col].dataType.simpleString()

    def search(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows_q, rows_n, rows_c = [], [], []
            for cent, grp in groups(pdf):
                cent = _key(cent)
                if cent not in q_by_cent:
                    continue
                q_ids, qm, qn = q_by_cent[cent]
                n_ids = grp[id_col].to_numpy()
                cos = score(cent, grp, qm, qn)
                for qi in range(len(q_ids)):
                    row = cos[qi]
                    mask = n_ids == q_ids[qi]
                    if mask.any():
                        row = row.copy()
                        row[mask] = -np.inf
                    order = np.lexsort((n_ids, -row))[:k]
                    keep = order[np.isfinite(row[order])]
                    rows_q.extend([q_ids[qi]] * len(keep))
                    rows_n.extend(n_ids[keep])
                    rows_c.extend(row[keep])
            yield pd.DataFrame({"q_id": rows_q, "n_id": rows_n, col: rows_c})

    return fan_out_python_stage(df).mapInPandas(
        search, schema=f"q_id {q_id_type}, n_id {n_id_type}, {col} double"
    )


def _merge_topk(
    partials: DataFrame, k: int, *, col: str = "cos", rank: str = "rk", rounded: bool = False
) -> DataFrame:
    """Final merge: ROW_NUMBER per query over (score DESC, n_id), top k.
    Output (q_id, n_id, cos, <rank>); ``rounded`` emits cos at 6dp."""
    w = W.partitionBy("q_id").orderBy(F.col(col).desc(), F.col("n_id"))
    score = F.round(col, 6) if rounded else F.col(col)
    return (
        partials.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", "n_id", score.alias("cos"), F.col("_rn").alias(rank))
    )


def _id_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine: the top-k skeleton with
    one group holding every query. The corpus streams partition-parallel
    through the score stage; a final window merges the partials.

    Float discipline: the score block accumulates SEQUENTIALLY over
    dimensions (one vectorized add per dim), so every cosine is bit-identical
    to the ordered left-to-right fold the DuckDB oracle computes — numpy's
    pairwise-summing dot() would not be.
    """
    q_by_cent = _group_queries(queries, id_col=id_col, vec_col=vec_col, dim=dim)
    partials = _topk_partials(
        corpus,
        q_by_cent,
        _float_score(vec_col),
        k=k,
        id_col=id_col,
        q_id_type=_id_type(queries, id_col),
        groups=lambda pdf: [(None, pdf)],
    )
    return _merge_topk(partials, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = DEFAULT_DIM,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: route queries and corpus to centroids, then search
    only within each query's ``nprobe`` nearest clusters. Recall trades
    against the |Q|·|C| blow-up — the standard IVF bargain: nprobe=1 is the
    fastest/lowest-recall point, nprobe = n_centroids degenerates to exact
    brute force (every corpus row lives in exactly one cluster, so the
    probed union covers the corpus with no duplicates).

    Physical plan: the top-k skeleton, with the corpus routed inside the
    score stage (batch by batch, through the centroid router) instead of
    read from a stored ``centroid_id``. Total score work = Σ_cluster
    |Q_probing_c|·|C_c| — the IVF saving is real, not simulated, and
    scales down linearly in nprobe/n_centroids.

    SIZING RULE (measured, recall_bench.py / SCALE.md round-14): train
    K ≈ √N centroids (a few Lloyd steps; per-probe cost then ≈ N/K ≈ √N
    rows) and pick ``nprobe`` off the measured recall curve for YOUR
    corpus — recall-per-probe is a property of the data's intrinsic
    cluster structure, not of the index. On a planted-clusters ×100 corpus
    (200k×64f, K=448): separable clusters → recall@10 = 1.0 at nprobe=1,
    0.21× the exact cost; heavily overlapping clusters (noise ≈ 0.9× the
    center norm) → 0.93 at nprobe=32 (0.31×). On ISOTROPIC vectors (the
    driver's synthetic embeddings: neighbor-label agreement at chance)
    recall ≈ the scanned corpus fraction no matter how K is chosen — the
    information-theoretic floor for coarse quantization; use the exact
    kernel there. Per-call corpus assignment makes the TRANSIENT form
    uneconomical at K ≈ √N — use build_ivf_index + ivf_topk_indexed, which
    pay assignment once at build."""
    c_ids, c_mat = _collect_centroids(
        centroids,
        centroid_id_col="centroid_id" if "centroid_id" in centroids.columns else id_col,
        vec_col=vec_col,
        dim=dim,
    )
    q_by_cent = _group_queries(
        queries, id_col=id_col, vec_col=vec_col, dim=dim, route=(c_ids, c_mat), nprobe=nprobe
    )

    def routed(pdf):
        ok, _, assigned = _route(pdf[vec_col].to_numpy(), c_ids, c_mat, dim)
        return pdf[ok].groupby(assigned)

    partials = _topk_partials(
        corpus,
        q_by_cent,
        _float_score(vec_col),
        k=k,
        id_col=id_col,
        q_id_type=_id_type(queries, id_col),
        groups=routed,
    )
    return _merge_topk(partials, k)


def blocked_near_dup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.8,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks (e.g. a coarse
    cluster or label). Blocking bounds the quadratic term to the largest
    block; pair (a < b) output with cosine ≥ threshold."""
    vectors = fan_out_python_stage(vectors)
    a = vectors.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col), dim).alias("a_norm"),
        F.col(block_col).alias("blk"),
    )
    b = vectors.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col), dim).alias("b_norm"),
        F.col(block_col).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos",
            dot(F.col("a_vec"), F.col("b_vec"), dim) / (F.col("a_norm") * F.col("b_norm")),
        )
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos", "blk")
    )


def blocked_near_dup_arrow(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.8,
    anchor_chunk: int = 2048,
) -> DataFrame:
    """Arrow/BLAS twin of :func:`blocked_near_dup`: same pair set, same
    bit-identical cosines, ~25× the throughput at sf1.0 (q36 100.7 s →
    ~4 s — the per-pair flat expression chain costs ~36 µs/pair where the
    per-block Gram accumulation costs ~1 µs/pair).

    Plan shape: ONE shuffle of (id, vec, block) keyed by block —
    applyInPandas builds each block's score matrix via the SHARED
    sequential-fold helpers (_seq_score_block/_seq_sqrt_norms), so every
    cosine stays bit-identical to the relational path and the DuckDB
    ordered-fold oracle. The join formulation shuffles BOTH sides and
    materializes pair rows through the exchange; here pairs exist only
    inside the kernel. ``anchor_chunk`` bounds kernel memory to
    O(chunk × block) doubles, so a mega-block degrades to more chunks,
    not an OOM. Blocking still bounds the quadratic term — this twin
    changes the constant, not the asymptotics (the boundary declaration
    on q36 stands; the sub-quadratic paths remain q45/q102).

    NULL blocks are dropped, matching the relational path's equi-join.
    """
    import pandas as pd

    id_t = vectors.schema[id_col].dataType.simpleString()
    blk_t = vectors.schema[block_col].dataType.simpleString()

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a": [], "b": [], "cos": [], "blk": []})
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        ids = pdf[id_col].to_numpy()
        blk = pdf[block_col].iloc[0]
        norms = _seq_sqrt_norms(x)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n - 1, anchor_chunk):
            hi = min(lo + anchor_chunk, n - 1)
            # score anchors [lo:hi) against the full block, keep j > i
            cos = _seq_score_block(x[lo:hi], x) / (
                norms[lo:hi, None] * norms[None, :]
            )
            ii, jj = np.nonzero(
                np.triu(np.ones((hi - lo, n), dtype=bool), k=lo + 1)
            )
            c = cos[ii, jj]
            if threshold > -1.0:
                keep = c >= threshold
                ii, jj, c = ii[keep], jj[keep], c[keep]
            ai, bi = ids[ii + lo], ids[jj]
            # the relational a < b is STRICT: duplicate-id rows never pair
            neq = ai != bi
            if not neq.all():
                ai, bi, c, ii = ai[neq], bi[neq], c[neq], ii[neq]
            # a < b by ID (the relational filter's ordering), not by index
            swap = ai > bi
            if swap.any():
                ai = np.where(swap, bi, ai)
                bi = np.where(swap, ids[ii + lo], bi)
            out_a.append(ai)
            out_b.append(bi)
            out_c.append(c)
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a),
                "b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
                "blk": blk,
            }
        )

    from nexgap_spark.session import adaptive_width

    # input-size-derived width (r18): same keyed exchange, fewer
    # micro-tasks on toy inputs, = core count at scale
    par = adaptive_width(vectors)
    return (
        vectors.where(F.col(block_col).isNotNull())
        .select(id_col, vec_col, block_col)
        .repartition(par, block_col)
        .groupBy(block_col)
        .applyInPandas(kernel, schema=f"a {id_t}, b {id_t}, cos double, blk {blk_t}")
        .filter(F.col("cos") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (sign) LSH — the bucketed near-dup / ANN scale path.
# ---------------------------------------------------------------------------

# Deterministic integer hyperplanes shared verbatim with the DuckDB oracle:
# plane[j][i] = ((i+1)*A_j + B_j) mod 17 - 8, A/B successive primes. The
# table extends past the base 8 so `n_planes` can scale with corpus size —
# bits ≈ log2(N / target_bucket_size) keeps the expected bucket occupancy
# (and therefore pair count per bucket) constant across decades instead of
# letting candidates grow ~N²/2^bits (VERDICT r9 item 5).
_HYPERPLANE_AB = [
    (3, 1), (5, 2), (7, 3), (11, 5), (13, 7), (17, 11), (19, 13), (23, 17),
    (29, 19), (31, 23), (37, 29), (41, 31), (43, 37), (47, 41), (53, 43),
    (59, 47), (61, 53), (67, 59), (71, 61), (73, 67), (79, 71), (83, 73),
]


def hyperplanes(n: int) -> list[list[int]]:
    """First ``n`` deterministic hyperplanes (2^n sign buckets)."""
    if n > len(_HYPERPLANE_AB):
        raise ValueError(
            f"n_planes={n} exceeds the deterministic A/B table "
            f"({len(_HYPERPLANE_AB)}) — extend _HYPERPLANE_AB"
        )
    return [
        [((i + 1) * a + b) % 17 - 8 for i in range(DEFAULT_DIM)]
        for a, b in _HYPERPLANE_AB[:n]
    ]


def centroid_outliers(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Per-label centroid, then each vector's Euclidean distance to its own
    centroid; returns the k farthest (mislabeled/outlier candidates).

    posexplode → groupBy(label, pos) keeps everything JVM-side; the centroid
    table is |labels|×dim rows (tiny) so the join back broadcasts. The
    explode multiplies rows ×dim before the first shuffle, but both groupBys
    partial-aggregate map-side, so the exchanges carry one row per
    (label,pos) and per (id,label) respectively — not the exploded rows.
    The final top-k is a TakeOrderedAndProject, never a global sort."""
    ex = vectors.select(
        id_col, label_col, F.posexplode(vec_col).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = ex.groupBy(label_col, "pos").agg(F.avg("val").alias("c"))
    diff = F.col("val") - F.col("c")
    d = (
        ex.join(F.broadcast(cent), [label_col, "pos"])
        .groupBy(id_col, label_col)
        .agg(F.sqrt(F.sum(diff * diff)).alias("dist"))
    )
    return d.orderBy(F.col("dist").desc(), F.col(id_col)).limit(k)


def hyperplane_lsh_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    max_bucket_size: int | None = 10_000,
    oversized: str = "salt",
    n_planes: int = 8,
) -> DataFrame:
    """Candidate pairs = same-bucket pairs (a < b) with exact cosine attached.

    One shuffle on the bucket id; candidate count is Σ_bucket |b|² / 2
    instead of |V|²/2 — with balanced buckets a 2^planes reduction, which is
    what makes all-pairs similarity tractable at corpus scale. Cosine-close
    vectors agree on most sign bits, so recall concentrates where it
    matters; raise recall by unioning rotated plane sets.

    Two Arrow stages instead of a self-join with per-pair expression chains:
    (1) mapInPandas assigns buckets, (2) groupBy(bucket).applyInPandas emits
    each bucket's upper-triangle pairs as an n×n float64 matrix accumulation.
    The expression-chain form (8×64-term bucket on both join sides + 192-term
    cosine per pair) cost 3-5 s of driver-side analysis + codegen per fresh
    plan; the numpy form keeps the plan tiny and the quadratic work
    BLAS-shaped. Accumulation is strict left-to-right over dimensions in
    float64, so bucket signs and cosines stay bit-identical to `dot` and
    the ordered-fold DuckDB oracle.

    ``max_bucket_size`` is the same mega-bucket guard as
    ``dedup.lsh_candidate_pairs``: a boilerplate/near-constant embedding
    cluster lands every row in ONE bucket, whose n×n pair matrix then runs
    on a single task — the genuine 100 TB blow-up for sign-LSH. Buckets
    over the cap are either ``"salt"``-split (default here, unlike minhash's
    drop: sign buckets are coarse, so whole-bucket drop loses far more
    recall) into ceil(size/cap) hash sub-buckets — pair output bounded by
    size·cap, work per task bounded by cap² — or ``"drop"``ped outright.
    Neither is silent: a ``hyperplane_bucket_cap`` observed metric carries
    affected row / approx bucket counts. ``None`` disables the guard."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from nexgap_spark.operators.dedup import _OBSERVE_SEQ

    planes_full = np.asarray(hyperplanes(n_planes), dtype=np.float64)
    if dim > planes_full.shape[1]:
        raise ValueError(
            f"dim={dim} exceeds the built-in hyperplane width "
            f"{planes_full.shape[1]} — extend hyperplanes() for wider vectors"
        )
    planes = planes_full[:, :dim]

    in_schema = vectors.select(id_col, vec_col).schema
    bucketed_schema = T.StructType(
        list(in_schema.fields) + [T.StructField("bucket", T.IntegerType())]
    )

    def _bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # array<float> cells arrive as float32 numpy arrays; widen to
            # float64 first — same as element_at(vec, i).cast("double").
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            buckets = np.zeros(len(pdf), dtype=np.int64)
            for j in range(n_planes):
                acc = np.zeros(len(pdf), dtype=np.float64)
                for k in range(dim):
                    acc = acc + V[:, k] * planes[j, k]
                buckets |= (acc >= 0).astype(np.int64) << j
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = buckets.astype(np.int32)
            yield out

    empty = pd.DataFrame(
        {
            "a": pd.Series(dtype="int64"),
            "b": pd.Series(dtype="int64"),
            "cos": pd.Series(dtype="float64"),
        }
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        # honor the dim contract: bucket AND cosine both restrict to the
        # first `dim` components (full-width cosine would disagree with the
        # dot(…, dim) expression and any dim-aware oracle)
        V = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)[:, :dim]
        # D[i,j] accumulates v_i[k]*v_j[k] for k = 0..dim-1 IN ORDER — the
        # same sequential add order as the codegen'd chain / oracle fold.
        D = np.zeros((n, n), dtype=np.float64)
        sq = np.zeros(n, dtype=np.float64)
        for k in range(V.shape[1]):
            c = V[:, k]
            D += np.outer(c, c)
            sq += c * c
        nrm = np.sqrt(sq)
        cos = D / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(n, 1)  # ids ascending → a < b
        return pd.DataFrame({"a": ids[iu], "b": ids[ju], "cos": cos[iu, ju]})

    if oversized not in ("drop", "salt"):
        raise ValueError(f"oversized must be 'drop' or 'salt', got {oversized!r}")
    bucketed = vectors.select(id_col, vec_col).mapInPandas(
        _bucketize, schema=bucketed_schema
    )
    group_keys = ["bucket"]
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        sized = bucketed.withColumn("_bsz", F.count(F.lit(1)).over(w))
        over = F.col("_bsz") > max_bucket_size
        affected = "dropped" if oversized == "drop" else "salted"
        sized = sized.observe(
            f"hyperplane_bucket_cap_{next(_OBSERVE_SEQ)}",
            F.sum(over.cast("long")).alias(f"{affected}_rows"),
            F.approx_count_distinct(F.when(over, F.col("bucket"))).alias(
                f"{affected}_buckets"
            ),
        )
        if oversized == "drop":
            bucketed = sized.filter(~over).drop("_bsz")
        else:
            n_sub = F.greatest(
                F.ceil(F.col("_bsz") / F.lit(max_bucket_size)), F.lit(1)
            )
            bucketed = sized.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(id_col)), n_sub).cast("int")
            ).drop("_bsz")
            group_keys = ["bucket", "_salt"]
    # pair ids inherit the input id type (see brute_force_topk): hard-coded
    # bigint silently coerced string/int ids passed via id_col=
    pair_id_type = vectors.schema[id_col].dataType.simpleString()
    # keyed repartition (r17): it satisfies the groupBy's required
    # clustering (ONE exchange either way), but its REPARTITION_BY_NUM
    # origin is exempt from AQE coalescing — the stock ENSURE_REQUIREMENTS
    # exchange looks tiny in bytes and AQE folded all 2^planes groups onto
    # ONE task, serializing the per-group Arrow/pandas overhead that
    # dominates small buckets (measured: q45 pair stage 1.08 s → parallel
    # across cores). At scale buckets are large, AQE would not coalesce,
    # and the plan is byte-identical. Width (r18): input-size-derived
    # instead of raw core count — identical at scale, fewer micro-tasks on
    # toy inputs.
    from nexgap_spark.session import adaptive_width

    par = adaptive_width(vectors)
    return (
        bucketed.repartition(par, *[F.col(k) for k in group_keys])
        .groupBy(*group_keys)
        .applyInPandas(
            _pairs, schema=f"a {pair_id_type}, b {pair_id_type}, cos double"
        )
    )


def quantize_int8_digest(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector L2 norm + int8 scalar-quantization digest (the storage
    prep step before shipping an embedding corpus to an ANN index):
    q_i = floor(127 * x_i / max|x| + 0.5), reported as (sum, min, max,
    saturation count) so the result is hashable scalars, not arrays.

    Arrow-batched numpy stage, partition-parallel, no shuffle. Float
    discipline: squares accumulate sequentially over dimensions so the norm
    is bit-identical to the DuckDB oracle's left-to-right list fold;
    quantized values are integers, so their aggregates are order-free.
    """

    def digest(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = _seq_sqrt_norms(m)  # shared sequential fold, oracle order
            maxabs = np.abs(m).max(axis=1)
            safe = np.where(maxabs == 0.0, 1.0, maxabs)
            q = np.floor(127.0 * m / safe[:, None] + 0.5)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "l2_norm": np.round(nrm, 6),
                    "q_sum": q.sum(axis=1).astype(np.int64),
                    "q_min": q.min(axis=1).astype(np.int64),
                    "q_max": q.max(axis=1).astype(np.int64),
                    "n_saturated": (np.abs(q) >= 127).sum(axis=1).astype(np.int64),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        digest,
        schema="vec_id long, l2_norm double, q_sum long, q_min long, q_max long, n_saturated long",
    )


def kmeans_update(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """One Lloyd iteration of k-means, distributed: a single Arrow stage
    streams the corpus partition-parallel, routes each batch through the
    centroid router (the same bit-faithful scorer IVF uses; NULL or short
    embeddings join no cluster) and accumulates per-centroid per-dimension
    PARTIAL sums map-side. The only shuffle carries k×dim partial rows per
    partition — never the corpus, never an exploded member table.

    Returns (centroid_id, pos, n_members, dim_sum), centroid_id typed as in
    the centroid table: callers divide dim_sum/n_members for the new
    centroid. Exact reproducibility: member dims are rounded to 9dp and
    accumulated as SCALED int64 (x·1e9 — exact for float32-origin values,
    whose ·1e9 product fits a double mantissa), so partial sums are integer
    arithmetic and order-independent; the final agg divides once. Float
    summation would drift with shuffle order.
    """
    c_ids, c_mat = _collect_centroids(
        centroids, centroid_id_col=centroid_id_col, vec_col=vec_col, dim=dim
    )
    pos_of = {_key(c): i for i, c in enumerate(c_ids)}

    def partials(batches):
        counts = np.zeros(len(c_ids), dtype=np.int64)
        sums = np.zeros((len(c_ids), dim), dtype=np.int64)
        for pdf in batches:
            _, V, assigned = _route(pdf[vec_col].to_numpy(), c_ids, c_mat, dim)
            pos = np.array([pos_of[_key(c)] for c in assigned], dtype=np.int64)
            np.add.at(counts, pos, 1)
            np.add.at(sums, pos, np.rint(V * 1e9).astype(np.int64))
        live = np.nonzero(counts)[0]
        if len(live) == 0:
            return
        yield pd.DataFrame(
            {
                "centroid_id": np.repeat(c_ids[live], dim),
                "pos": np.tile(np.arange(dim, dtype=np.int32), len(live)),
                "n": np.repeat(counts[live], dim),
                "isum": sums[live].ravel(),
            }
        )

    part = vectors.select(id_col, vec_col).mapInPandas(
        partials,
        schema=f"centroid_id {_id_type(centroids, centroid_id_col)}, pos int, n long, isum long",
    )
    return (
        part.groupBy(F.col("centroid_id").alias(centroid_id_col), "pos")
        .agg(
            F.sum("n").cast("long").alias("n_members"),
            F.round(F.sum("isum") / F.lit(1e9), 6).alias("dim_sum"),
        )
    )


# ---------------------------------------------------------------------------
# IVF index persistence (round 6): build once, query many. The serving-side
# pattern a 100 TB corpus actually needs — assignment cost is paid at build
# time, and a query run reads ONLY the probed clusters' files.
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    quantize: bool = False,
    pq_codebooks: DataFrame | None = None,
) -> None:
    """Persist an IVF index: the corpus with its coarse-quantization
    assignment, written as parquet PARTITIONED BY centroid_id — so a
    query-time filter on probed centroids becomes partition PRUNING (the
    scan literally skips the unprobed clusters' files) — plus the centroid
    table alongside. Build cost = one assign_clusters pass + one
    centroid-keyed shuffle + one write. The shuffle matters at large K:
    without it every scan task writes a file into EVERY centroid dir
    (tasks × K small files — measured 354 s at K=448 from 32 tasks);
    repartitioning on centroid_id first writes one file per cluster.
    Measured at K=448 / 200k×64f: 17 s.

    Rows whose embedding is NULL or shorter than ``dim`` get a NULL
    centroid_id (assign_clusters) and land in the NULL partition: they stay
    in the index, and no probe reads them.

    SIZING RULE: K ≈ √N centroids (see ivf_topk's docstring for the full
    measured recall/nprobe/structure rule); the persisted probe then scans
    ~nprobe·√N rows via partition pruning, and recall@10 ≥ 0.9 costs
    ≤ 1/4 of exact search whenever the corpus has real cluster structure
    (recall_bench.py rows in SCALE.md round-14).

    ``quantize=True`` additionally stores an int8 scalar quantization per
    vector (qvec tinyint[dim] + qscale + l2n; q = floor(127·x/max|x|+0.5),
    x ≈ qscale·q — the same formula as quantize_int8_digest). The probe
    side (ivf_topk_indexed_int8) then reads ONLY the int8 columns — ~4×
    less probe IO/memory per dim at 100 TB, since parquet prunes the float
    column out of the scan — and reranks the approximate top-c in float.
    Storage grows ~1.25× (int8 + float retained for rerank/exactness);
    the memory-bound resource is the PROBE working set, which shrinks 4×.
    Measured recall/cost rows: recall_bench.py with RECALL_INT8=1
    (SCALE.md round-15).

    ``pq_codebooks`` (a (subspace, code, codeword) DataFrame from
    operators.pq) additionally stores an m-BYTE product-quantization code
    per vector (``pqcodes`` binary) and persists the codebooks alongside
    (``{path}/pq_codebooks``) — the bytes-floor probe shape
    (ivf_topk_indexed_pq reads m bytes/row where int8 reads dim and float
    reads 4·dim). Composable with ``quantize=True``: a production index
    stores all tiers and each probe's column pruning pays only for the
    tier it reads; both quantizers reject NULL embeddings with an
    actionable error, so filter them before building a quantized index."""
    assigned = assign_clusters(corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim)
    if quantize:
        assigned = _quantize_stage(assigned, vec_col=vec_col)
    if pq_codebooks is not None:
        from nexgap_spark.operators import pq as _pq

        assigned = _pq.pq_encode_stage(
            assigned, pq_codebooks, vec_col=vec_col, centroids=centroids
        )
        pq_codebooks.write.mode("overwrite").parquet(
            f"{path.rstrip('/')}/pq_codebooks"
        )
    assigned.repartition(F.col("centroid_id")).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{path.rstrip('/')}/corpus")
    centroids.write.mode("overwrite").parquet(f"{path.rstrip('/')}/centroids")


def _quantize_stage(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Append int8 scalar-quantization columns (qvec, qscale, l2n) in one
    Arrow stage — same kernel math as quantize_int8_digest. NULL
    embeddings are rejected: dropping rows from an index silently would be
    worse than failing with the fix spelled out."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", qvec array<tinyint>, qscale double, l2n double"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nulls = pdf[vec_col].isna()
            if nulls.any():
                raise ValueError(
                    f"quantize=True requires non-NULL {vec_col!r} values: "
                    f"{int(nulls.sum())} NULL embedding row(s) reached the "
                    "quantization stage. Filter NULL embeddings before "
                    "build_ivf_index/append_ivf_index, or build the index "
                    "with quantize=False."
                )
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            maxabs = np.abs(m).max(axis=1)
            safe = np.where(maxabs == 0.0, 1.0, maxabs)
            q = np.floor(127.0 * m / safe[:, None] + 0.5).astype(np.int8)
            pdf = pdf.copy()
            pdf["qvec"] = list(q)
            pdf["qscale"] = safe / 127.0
            pdf["l2n"] = _seq_sqrt_norms(m)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(assigned corpus, centroids) back from build_ivf_index's layout."""
    root = path.rstrip("/")
    return spark.read.parquet(f"{root}/corpus"), spark.read.parquet(f"{root}/centroids")


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> None:
    """Incremental index growth — the continuous-ingest twin of
    build_ivf_index (same family as the incremental dedup ledgers): route
    ONLY the new batch to the EXISTING centroids and append its rows into
    the partitioned corpus layout. Per-batch cost ∝ batch size; the
    resident corpus is never re-read or re-written, and queries see the
    union immediately (the partition-pruned scan picks up the new files).
    Centroids stay fixed between rebuilds — standard IVF serving practice;
    recall drifts only as the new data's distribution leaves the trained
    quantizer, which is a rebuild trigger, not an append concern.

    Same assignment and layout as build_ivf_index: the router, then a
    centroid-keyed repartition before the write (without it every append
    task drops a file into every centroid dir — tasks×K small files per
    batch, progressively shredding the pruned layout). NULL or short
    embeddings land in the NULL partition, as at build time. Appending into
    a quantized or PQ-coded index quantizes the batch too, and those stages
    reject NULL embeddings: filter them first when appending dirty batches
    to such an index."""
    spark = new_vectors.sparkSession
    root = path.rstrip("/")
    centroids = spark.read.parquet(f"{root}/centroids")
    assigned = assign_clusters(
        new_vectors, centroids, id_col=id_col, vec_col=vec_col, dim=dim
    )
    # a quantize=True index must STAY quantized: appending rows without
    # qvec/qscale/l2n would NULL those columns on the new files and crash
    # (or mislead) the next int8 probe
    existing_cols = spark.read.parquet(f"{root}/corpus").columns
    if "qvec" in existing_cols:
        assigned = _quantize_stage(assigned, vec_col=vec_col)
    # the same staying-power contract for PQ codes: the batch is encoded
    # against the index's PERSISTED codebooks (codebooks stay fixed between
    # rebuilds, exactly like the centroids — the recall-drift/rebuild note
    # above covers both quantizers)
    if "pqcodes" in existing_cols:
        from nexgap_spark.operators import pq as _pq

        assigned = _pq.pq_encode_stage(
            assigned,
            spark.read.parquet(f"{root}/pq_codebooks"),
            vec_col=vec_col,
            centroids=centroids,
        )
    assigned.repartition(F.col("centroid_id")).write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(f"{root}/corpus")


def ivf_topk_indexed(
    queries: DataFrame,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = DEFAULT_DIM,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k against a PERSISTED index: route each query to its
    ``nprobe`` nearest centroids (driver-side over the small centroid
    table), filter the partitioned corpus to the probed centroid ids —
    partition pruning, the real IO saving — then stream the pruned scan
    once through the same vectorized (BLAS-shaped) search stage ivf_topk
    uses, emitting per-partition partial top-k that a final window merges.

    The scoring deliberately does NOT run as a broadcast join with
    codegen'd 64-term dot expressions: at emb ×100 that plan evaluated
    ~200 M pair dots element-at-a-time in the JVM (242 s); the Arrow stage
    does the identical ordered-fold arithmetic as matrix blocks (3 s).

    Same semantics as ivf_topk at equal (centroids, nprobe); at
    nprobe = n_centroids it degenerates to exact brute force."""
    corpus, centroids = load_ivf_index(queries.sparkSession, index_path)
    route = _collect_centroids(
        centroids, centroid_id_col="centroid_id", vec_col=vec_col, dim=dim
    )
    q_by_cent = _group_queries(
        queries, id_col=id_col, vec_col=vec_col, dim=dim, route=route, nprobe=nprobe
    )
    partials = _topk_partials(
        _probed(corpus, q_by_cent),
        q_by_cent,
        _float_score(vec_col),
        k=k,
        id_col=id_col,
        q_id_type=_id_type(queries, id_col),
    )
    return _merge_topk(partials, k, rank="rank", rounded=True)


def ivf_topk_indexed_int8(
    queries: DataFrame,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = DEFAULT_DIM,
    nprobe: int = 1,
    rerank_factor: int = 4,
) -> DataFrame:
    """Memory-bound ANN probe against a quantize=True index: the probed
    partitions are scanned reading ONLY (id, qvec, qscale, l2n) — parquet
    column pruning drops the float vectors, so the probe working set is
    ~4x smaller per dimension — candidates are ranked by int8 approximate
    cosine, the global top rerank_factor*k per query are RERANKED with the
    float vectors (a second, candidate-filtered read of the probed
    partitions), and the exact-scored top-k is emitted.

    MEASURED BYTES RULE (round 16, JVM-rchar bytes-read deltas on the
    1M x 768d clustered corpus — RECALL_INT8_HIGHDIM_r16.json, SCALE.md
    round-16 table): in a pure-parquet deployment the rerank's
    candidate-filtered float read still SCANS the float column of every
    probed partition (the id filter evaluates after page decode; candidate
    ids are scattered, so row-group stats can't prune), so rerank_factor>=1
    reads 1.0-1.15x the FLOAT probe's bytes — it buys exact final scores,
    not IO. Pass ``rerank_factor=0`` for the real saving: rank by the int8
    approximate cosine alone, never touching the float column (plan-audited
    in tests) — measured 3.4-4.7x fewer bytes AND 1.25-1.6x faster wall
    than the float probe at every nprobe at 768 dims, where the probe is
    scan/decode-bound. That is the crossover's far side: at 64 dims
    (CPU-bound kernel, r15) int8 paid ~1.5x wall for the same recall; at
    768 dims it wins both axes. Recall: int8+rerank is IDENTICAL to the
    float probe at every nprobe in every measured regime; int8-only
    ranking gives up <=1.8 recall points (0.9723 -> 0.9546 at nprobe=4).
    At 100 TB: serve the int8 index hot with rerank_factor=0; add the
    rerank only where floats live in a point-lookup store (not a parquet
    scan) or score exactness is contractual.

    int8 approximation: x ~ qscale*q, so cos(Q, x) ~ (Q.q)*qscale /
    (|Q|*l2n) with l2n the stored FLOAT norm — scale cancellation keeps
    ranking error to the quantization noise of the dot product only.
    Contract: at nprobe = n_centroids and rerank_factor*k >= corpus size,
    the output equals brute_force_topk exactly (the rerank is exact float
    arithmetic via the shared _seq_score_block kernel); tests pin this.
    """
    corpus, centroids = load_ivf_index(queries.sparkSession, index_path)
    if "qvec" not in corpus.columns:
        raise ValueError(
            "index has no int8 columns; build with build_ivf_index(..., "
            "quantize=True)"
        )
    route = _collect_centroids(
        centroids, centroid_id_col="centroid_id", vec_col=vec_col, dim=dim
    )
    q_by_cent = _group_queries(
        queries, id_col=id_col, vec_col=vec_col, dim=dim, route=route, nprobe=nprobe
    )
    q_id_type = _id_type(queries, id_col)
    c_take = max(k, rerank_factor * k)

    def score_int8(cent, grp, qm, qn):
        # approximate dot via the shared ORDERED-fold kernel (not BLAS
        # matmul): candidate selection ties then break identically across
        # engines, which the q120 SQL oracle depends on
        qm8 = np.stack(grp["qvec"].to_numpy()).astype(np.float64)
        dots = _seq_score_block(qm, qm8) * grp["qscale"].to_numpy()[None, :]
        l2n = grp["l2n"].to_numpy()
        return dots / (qn[:, None] * np.where(l2n == 0.0, np.inf, l2n)[None, :])

    # ---- int8 candidate scan: float column NEVER read here ----------------
    partials = _topk_partials(
        _probed(corpus, q_by_cent).select(id_col, "centroid_id", "qvec", "qscale", "l2n"),
        q_by_cent,
        score_int8,
        k=c_take,
        id_col=id_col,
        q_id_type=q_id_type,
        col="acos",
    )
    if rerank_factor == 0:
        # int8-only ranking: the float column is NEVER read — the measured
        # 4x-bytes serving shape (docstring rule). cos is the int8
        # APPROXIMATE cosine; ids carry the same recall as the float probe
        # on every measured regime.
        return _merge_topk(partials, k, col="acos", rank="rank", rounded=True)
    cand = _merge_topk(partials, c_take, col="acos").select("q_id", "n_id")

    # ---- float rerank: only the candidates' vectors are read --------------
    pruned_f = _probed(corpus, q_by_cent).select(F.col(id_col).alias("n_id"), vec_col)
    lookup = {
        qid: (qm[i], qn[i])
        for q_ids, qm, qn in q_by_cent.values()
        for i, qid in enumerate(q_ids)
    }

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            # one (1,d)@(d,n) block per query; the left-to-right dimension
            # fold is identical, so scores stay bit-equal to brute_force_topk
            for qid, grp in pdf.groupby("q_id", sort=False):
                qv, qn = lookup[qid]
                cm = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
                dots = _seq_score_block(qv[None, :], cm)[0]
                denom = qn * _seq_sqrt_norms(cm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, dots / denom, np.nan)
                res = grp[["q_id", "n_id"]].copy()
                res["cos"] = cos
                outs.append(res[np.isfinite(cos)])
            if outs:
                yield pd.concat(outs, ignore_index=True)

    rescored = cand.join(pruned_f, "n_id").mapInPandas(
        rerank, schema=f"q_id {q_id_type}, n_id {_id_type(corpus, id_col)}, cos double"
    )
    return _merge_topk(rescored, k, rank="rank", rounded=True)


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = DEFAULT_DIM,
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: route every vector to its
    nearest centroid (assign_clusters — one corpus pass), then
    compare pairs ONLY within a cluster and drop the higher id of any pair
    at/over ``threshold`` cosine. The clustering is the scale trick: the
    quadratic pair scan runs per cluster (Σ|c|² work, parallel across
    clusters), never over the corpus — with k chosen so clusters are
    ~|V|/k, the cost is |V|²/k instead of |V|². Keeps min-id-survives
    determinism (the same one-pass rule as incremental_minhash; the
    transitive end-product is dup_groups' job).

    ``max_cluster_size`` guards the mega-cluster failure mode (an
    embedding-collapsed boilerplate flood routes to ONE centroid): clusters
    above the cap are salt-split into hash sub-clusters, bounding per-task
    pairs by size·cap at the cost of cross-sub-cluster recall (same
    treatment as lsh_candidate_pairs' salt mode, observed metric included).
    Zero-norm vectors produce NaN cosine and are never dropped (explicitly
    filtered — Spark would otherwise order NaN above every threshold); NULL
    or short embeddings join no cluster and are always kept.

    Returns the kept rows of ``vectors``. Reference scope note: the
    reference has no embedding pipeline; this is a scale extension
    (SemDeDup, Abbas et al. 2023) built from assign_clusters +
    the bit-stable cosine used across the similarity stack."""
    from nexgap_spark.operators.dedup import cap_partition_size
    from nexgap_spark.session import adaptive_width

    # NULL/short embeddings get a NULL centroid id: they are never paired,
    # so they survive the final anti-join
    assigned = assign_clusters(
        vectors.select(id_col, vec_col), centroids, id_col=id_col, vec_col=vec_col, dim=dim
    ).where(F.col("centroid_id").isNotNull())
    id_type = _id_type(vectors, id_col)
    assigned, part_keys = cap_partition_size(
        assigned,
        ["centroid_id"],
        max_cluster_size,
        mode="salt",
        metric_prefix="semantic_dedup_cluster_cap",
        id_col=id_col,
    )
    # The within-cluster pair scan is ONE Arrow stage per cluster (the
    # brute_force_topk design): a vectorized score block beats the per-pair
    # 64-term expression-chain join by ~6× measured at sf0.1 (8.3 s →
    # ~1.4 s), and the sequential-fold helpers keep every cosine
    # bit-identical to the ordered-fold SQL oracle. Each 512-row block only
    # scores against V[i0:] (the lower triangle is never read), so the
    # block matrix tops out at 512·cap·8 B ≈ 40 MB at the 10k default cap
    # and the flop count is the triangle, not the square.

    def cluster_drops(ids: np.ndarray, vecs: np.ndarray) -> list:
        # one cluster's triangular scan: identical math/order to the r17
        # per-group kernel (sorted ids, 512-row blocks, upper triangle)
        if len(ids) < 2:
            return []
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = _matrix(vecs[order], dim)
        norms = _seq_sqrt_norms(V)
        dropped: set = set()
        for i0 in range(0, len(ids), 512):
            blk = V[i0 : i0 + 512]
            cos = _seq_score_block(blk, V[i0:]) / (
                norms[i0 : i0 + 512, None] * norms[None, i0:]
            )
            for r in range(blk.shape[0]):
                row = cos[r, r + 1 :]  # j > i in sorted-id order → drop j
                # ~isnan (not isfinite): +inf compares ≥ threshold in both
                # engines' `isnan(cos) = false AND cos >= t` — match it
                hits = np.nonzero(~np.isnan(row) & (row >= threshold))[0]
                dropped.update(ids[i0 + r + 1 + hits])
        return sorted(dropped)

    # Partition-level batched kernel (r18, guide §4.1): the r17 shape was
    # groupBy(part_keys).applyInPandas — ONE Arrow batch + Python call per
    # CLUSTER, so at k ≫ cores the per-group Arrow round-trip dominated
    # (the r17 verdict's named open item). Clusters are now hash-clustered
    # and sorted within partitions, and ONE mapInPandas kernel walks each
    # partition's clusters off contiguous runs — same per-cluster
    # triangular scan, but the Arrow boundary is paid per ~10k-row batch
    # instead of per cluster. A cluster can span Arrow batches, so the
    # trailing (possibly incomplete) run is carried into the next batch;
    # the cluster-size cap bounds the carry. Same exchange count as
    # before (one keyed shuffle); width is input-size-derived.
    packed = (
        assigned.select(*part_keys, id_col, vec_col)
        .repartition(adaptive_width(vectors), *[F.col(k) for k in part_keys])
        .sortWithinPartitions(*part_keys)
    )

    def partition_drops(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            # sorted input → the last cluster is the contiguous tail whose
            # keys equal the last row's; it may continue in the next batch
            tail = np.ones(len(pdf), dtype=bool)
            for k in part_keys:
                col = pdf[k].to_numpy()
                tail &= col == col[-1]
            carry = pdf.iloc[len(pdf) - int(tail[::-1].cumprod().sum()) :]
            head = pdf.iloc[: len(pdf) - len(carry)]
            if len(head) == 0:
                continue
            out: list = []
            for _, grp in head.groupby(list(part_keys), sort=False):
                out.extend(
                    cluster_drops(
                        grp[id_col].to_numpy(), grp[vec_col].to_numpy()
                    )
                )
            if out:
                yield pd.DataFrame({id_col: out})
        if carry is not None and len(carry):
            out = cluster_drops(
                carry[id_col].to_numpy(), carry[vec_col].to_numpy()
            )
            if out:
                yield pd.DataFrame({id_col: out})

    dropped = packed.mapInPandas(partition_drops, schema=f"{id_col} {id_type}")
    return vectors.join(dropped.distinct(), id_col, "left_anti")
