"""Product quantization (PQ) — the step PAST int8 scalar quantization on
the ANN serving-cost curve (scale extension; same family as
`similarity.ivf_topk_indexed_int8`, reference parity anchor: the reference
exposes no quantized index — this is part of the embedding-similarity
scale extension SURVEY §2 grades as first-class).

A PQ code is ``m`` bytes per vector (one uint8 codeword id per subspace)
against ``4·dim`` bytes of float32 or ``dim`` bytes of int8: at 64 dims /
m=8 that is a 32× smaller probe working set than the float column, 8×
smaller than int8; at 768 dims / m=96 the same ratios hold with the probe
reading 96 bytes where the float probe reads 3072. The r16 bytes-read
instrumentation (RECALL_INT8_HIGHDIM_r16.json) showed the probe is
scan/decode-bound exactly where indexes outgrow RAM — bytes ARE the cost —
so the compression ratio is the serving-cost ratio.

Scoring is ADC (asymmetric distance computation) expressed through the
RECONSTRUCTION: a candidate's approximate vector is the concatenation of
its m codewords, and the approximate cosine is the exact cosine of the
query against that reconstruction. Production ADC sums per-subspace
lookup-table entries instead of touching the reconstruction; that regroups
the float additions ((Σ_sub0) + (Σ_sub1) + …) and is NOT bit-identical to
a left-to-right fold over all dims. This module gathers the reconstruction
matrix and scores it with the shared ordered-fold kernel
(`_seq_score_block`) so every score is bit-comparable with the DuckDB
oracle's fold over the SQL-reconstructed list (q122) — the gather costs
one (n, dim) float materialization per batch, which is CPU the probe has
to spare in the IO-bound regime the index exists for (the bytes READ stay
m per row; the plan never touches the float or int8 columns — plan-audited
in tests).

Codebooks come in two flavors, mirroring the IVF centroid convention:
`pq_codebooks_from_rows` (codeword (j, i) = subspace-j slice of the row
with id i — deterministic and SQL-replayable, the catalog/oracle variant,
exactly q35's ``vec_id < 8`` centroid trick) and `pq_train_codebooks`
(seeded per-subspace Lloyd on a bounded scan-PREFIX sample — a driver
collect of ``limit(sample_rows)``; on a corpus stored sorted/clustered
the prefix can cover few clusters and bias the codebooks, see the
function docstring — the recall-bearing variant recall_bench measures).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexgap_spark.operators.similarity import (
    DEFAULT_DIM,
    _collect_centroids,
    _collect_small_side,
    _group_queries,
    _id_type,
    _key,
    _merge_topk,
    _np_assign,
    _probed,
    _seq_score_block,
    _seq_sqrt_norms,
    _topk_partials,
    load_ivf_index,
)

# One uint8 per subspace is the storage contract (the compression IS the
# point); a ksub above 256 silently widening the code would halve it.
MAX_KSUB = 256


def _seq_sqdist_block(xm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    """|X|×|C| squared-L2 block, one vectorized add per dimension — the
    encode-side twin of `_seq_score_block`: additions run left-to-right
    over dimensions so per-pair distances are bit-identical to the DuckDB
    ordered list fold the q122 oracle replays (same in-place buffer
    discipline; see _seq_score_block)."""
    d = xm[:, 0][:, None] - cm[:, 0][None, :]
    acc = d * d
    tmp = np.empty_like(acc)
    for i in range(1, xm.shape[1]):
        np.subtract(xm[:, i][:, None], cm[:, i][None, :], out=tmp)
        np.multiply(tmp, tmp, out=tmp)
        acc += tmp
    return acc


def pq_codebooks_from_rows(
    vectors: DataFrame,
    *,
    m: int,
    ksub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Deterministic, SQL-replayable codebooks: codeword (subspace j,
    code i) = the j-th subvector of the row with ``id == i`` (requires ids
    0..ksub-1 present — the same data-as-parameters convention as q35's
    ``vec_id < 8`` centroids, which is what lets the q122 oracle rebuild
    the codebook in pure SQL). Returns (subspace int, code int, codeword
    array<double>)."""
    _validate_geometry(m, ksub, dim)
    sub = dim // m
    pieces = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice(F.col(vec_col), j * sub + 1, sub)
                .cast("array<double>")
                .alias("codeword"),
            )
            for j in range(m)
        ]
    )
    return (
        vectors.filter(F.col(id_col) < ksub)
        .select(F.col(id_col).cast("int").alias("code"), F.explode(pieces).alias("s"))
        .select(F.col("s.subspace").alias("subspace"), "code", F.col("s.codeword").alias("codeword"))
    )


def pq_train_codebooks(
    vectors: DataFrame,
    *,
    m: int,
    ksub: int = 256,
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = 7,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Recall-bearing codebooks: seeded per-subspace Lloyd k-means on a
    BOUNDED driver sample (`limit(sample_rows)` — training reads one scan
    prefix, never the corpus; PQ training is sample-statistics work, the
    standard practice at any corpus size). CAVEAT: a scan-prefix sample is
    only representative when the storage order is uncorrelated with the
    embedding distribution — on a corpus written sorted/clustered (e.g. a
    centroid-partitioned index re-used as training input) the prefix can
    cover a few clusters only and silently bias the codebooks; shuffle the
    input or pre-sample by hash (``filter(pmod(xxhash64(id), k) == 0)``)
    in that case. Training uses BLAS argmin — no
    oracle replays a trained codebook, so the parity fold is not needed
    here; ENCODING against the result still runs the ordered-fold kernel.
    Empty clusters keep their previous centroid (deterministic under the
    seed). Returns the same (subspace, code, codeword) shape as
    `pq_codebooks_from_rows`, plus a ``residual`` flag column.

    ``centroids`` (the IVF coarse quantizer) switches to RESIDUAL
    training — the IVF-PQ shape, and on clustered data the difference is
    not a tweak but the whole ballgame: encoding raw vectors spends the
    entire code budget re-describing the cluster center every candidate
    in a probed partition SHARES, so within-cluster ranking drowns in
    quantization noise (measured: recall@10 collapsed to 0.23 vs the
    float probe's 0.88-0.97 on the 1M×768 clustered corpus,
    RECALL_PQ_HIGHDIM_r16.json). Residual codebooks quantize x − c(x)
    (sample rows assigned to their max-cosine centroid exactly like
    assign_clusters), the probe adds the centroid back before scoring,
    and every code bit works on the part that distinguishes neighbors.
    The flag travels WITH the codebooks (persisted beside the index), so
    encode/append/probe auto-detect — residualness is a property of the
    codebook, not a per-call argument to keep consistent."""
    _validate_geometry(m, ksub, dim)
    sub = dim // m
    pdf = vectors.select(vec_col).limit(sample_rows).toPandas()
    if pdf[vec_col].isna().any():
        raise ValueError(
            "PQ training requires non-NULL embeddings: filter NULL "
            f"{vec_col!r} rows before pq_train_codebooks"
        )
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    residual = centroids is not None
    if residual:
        cent_pd = _collect_small_side(
            centroids,
            [F.col("centroid_id").alias("_c_id"), F.col(vec_col).alias("_c_vec")],
            "centroid side",
        )
        c_ids = cent_pd["_c_id"].to_numpy()
        c_mat = np.stack(cent_pd["_c_vec"].to_numpy()).astype(np.float64)
        assigned = _np_assign(mat, np.arange(len(c_ids)), c_mat)
        mat = mat - c_mat[assigned]
    if len(mat) < ksub:
        raise ValueError(
            f"PQ training sample has {len(mat)} rows < ksub={ksub}: raise "
            "sample_rows or lower ksub"
        )
    rng = np.random.default_rng(seed)
    rows = []
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        cent = x[rng.choice(len(x), size=ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = (
                (x * x).sum(axis=1)[:, None]
                - 2.0 * (x @ cent.T)
                + (cent * cent).sum(axis=1)[None, :]
            )
            code = np.argmin(d2, axis=1)
            for i in range(ksub):
                mask = code == i
                if mask.any():
                    cent[i] = x[mask].mean(axis=0)
        rows.extend(
            (j, i, [float(v) for v in cent[i]], residual) for i in range(ksub)
        )
    return vectors.sparkSession.createDataFrame(
        rows, "subspace int, code int, codeword array<double>, residual boolean"
    )


def _validate_geometry(m: int, ksub: int, dim: int) -> None:
    if dim % m != 0:
        raise ValueError(f"dim={dim} is not divisible by m={m} subspaces")
    if not (2 <= ksub <= MAX_KSUB):
        raise ValueError(f"ksub must be in [2, {MAX_KSUB}] (one uint8 per code), got {ksub}")


def _collect_codebook(codebooks: DataFrame) -> tuple[np.ndarray, bool]:
    """ONE driver collect of a codebook DataFrame → (dense (m, ksub, sub)
    array, residual flag). Validates the (subspace, code) grid is dense
    and — when the flag column exists — that it is UNIFORM across rows: a
    frame mixing residual and raw codebook rows (e.g. a bad union of two
    indexes' codebooks) must fail loudly, not silently classify as
    whatever row the old limit(1) probe happened to read (ADVICE r16).
    Codebooks from before the flag existed (and the data-rows oracle
    variant) are raw-vector codebooks."""
    has_flag = "residual" in codebooks.columns
    cols = ["subspace", "code", "codeword"] + (["residual"] if has_flag else [])
    pdf = _collect_small_side(codebooks, cols, "PQ codebook")
    m = int(pdf["subspace"].max()) + 1
    ksub = int(pdf["code"].max()) + 1
    if len(pdf) != m * ksub:
        raise ValueError(
            f"PQ codebook is not a dense {m}x{ksub} (subspace, code) grid: "
            f"{len(pdf)} rows"
        )
    residual = False
    if has_flag:
        flags = set(bool(v) for v in pdf["residual"].fillna(False))
        if len(flags) > 1:
            raise ValueError(
                "PQ codebook mixes residual and raw rows — one codebook "
                "frame must come from ONE training call; rebuild it instead "
                "of unioning codebooks"
            )
        residual = flags.pop()
    pdf = pdf.sort_values(["subspace", "code"])
    sub = len(pdf["codeword"].iloc[0])
    cb = np.stack(pdf["codeword"].to_numpy()).astype(np.float64)
    return cb.reshape(m, ksub, sub), residual


def _codebook_residual(codebooks: DataFrame) -> bool:
    """Whether these codebooks quantize residuals (x − centroid); validates
    flag uniformity. Thin wrapper over :func:`_collect_codebook` for
    callers that only need the flag."""
    if "residual" not in codebooks.columns:
        return False
    return _collect_codebook(codebooks)[1]


def _codebook_matrix(codebooks: DataFrame) -> np.ndarray:
    """Collect a codebook DataFrame into the dense (m, ksub, sub) array the
    kernels gather from; validates the (subspace, code) grid is dense."""
    return _collect_codebook(codebooks)[0]


def pq_encode_stage(
    df: DataFrame,
    codebooks: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "pqcodes",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Append the PQ code column (BINARY, m bytes per row — one uint8 per
    subspace) in one Arrow stage. Per subspace: ordered-fold squared-L2
    against the ksub codewords, argmin with ties to the LOWEST code (the
    first-minimum convention ROW_NUMBER ... ORDER BY dist, code replays).
    NULL embeddings are rejected with the fix spelled out — silently
    dropping rows from an index would be worse (same contract as
    `_quantize_stage`).

    RESIDUAL codebooks (pq_train_codebooks(centroids=...)) encode
    x − centroid: ``df`` must carry ``centroid_id`` (it does at every
    index-build/append call site — encode runs after assign_clusters) and
    ``centroids`` supplies the vectors to subtract."""
    cb, residual = _collect_codebook(codebooks)
    m, _, sub = cb.shape
    dim = m * sub
    cmap = None
    if residual:
        if centroids is None or "centroid_id" not in df.columns:
            raise ValueError(
                "residual PQ codebooks need the coarse quantizer: pass "
                "centroids= and encode AFTER cluster assignment "
                "(centroid_id column)"
            )
        cent_pd = _collect_small_side(
            centroids,
            [F.col("centroid_id").alias("_c_id"), F.col(vec_col).alias("_c_vec")],
            "centroid side",
        )
        cmap = {
            cid: np.asarray(vec, dtype=np.float64)
            for cid, vec in zip(cent_pd["_c_id"], cent_pd["_c_vec"])
        }
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} binary"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nulls = pdf[vec_col].isna()
            if nulls.any():
                raise ValueError(
                    f"PQ encoding requires non-NULL {vec_col!r} values: "
                    f"{int(nulls.sum())} NULL embedding row(s) reached the "
                    "encode stage. Filter NULL embeddings before building "
                    "or appending to a PQ index."
                )
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if x.shape[1] != dim:
                raise ValueError(
                    f"embedding dim {x.shape[1]} != codebook dim {dim}"
                )
            if cmap is not None:
                cids = pdf["centroid_id"].to_numpy()
                missing = [c for c in dict.fromkeys(cids) if c not in cmap]
                if missing:
                    # a stale/mismatched coarse quantizer must surface as a
                    # descriptive error, not a bare KeyError deep in the
                    # Arrow stage (ADVICE r16)
                    raise ValueError(
                        "residual PQ encode: centroid_id value(s) "
                        f"{missing[:5]} are not covered by the supplied "
                        "centroids DataFrame — the coarse quantizer passed "
                        "to pq_encode_stage must be the one the rows were "
                        "assigned with"
                    )
                x = x - np.stack([cmap[c] for c in cids])
            codes = np.empty((len(x), m), dtype=np.uint8)
            for j in range(m):
                d2 = _seq_sqdist_block(x[:, j * sub : (j + 1) * sub], cb[j])
                # first-minimum argmin = lowest code on exact float ties
                codes[:, j] = np.argmin(d2, axis=1).astype(np.uint8)
            pdf = pdf.copy()
            pdf[out_col] = [row.tobytes() for row in codes]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def _decode_codes(col: pd.Series, m: int) -> np.ndarray:
    """(n, m) uint8 matrix back from the packed binary column."""
    return np.frombuffer(b"".join(col.to_numpy()), dtype=np.uint8).reshape(-1, m)


def _reconstruct(codes: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n, dim) float64 reconstruction: concatenate each row's codewords."""
    m, _, sub = cb.shape
    out = np.empty((len(codes), m * sub), dtype=np.float64)
    for j in range(m):
        out[:, j * sub : (j + 1) * sub] = cb[j][codes[:, j]]
    return out


def ivf_topk_indexed_pq(
    queries: DataFrame,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """ANN probe against a PQ-coded IVF index reading ONLY (id,
    centroid_id, pqcodes) from the probed partitions — m BYTES per
    candidate row (32× under the float column at sub=8, 8× under int8),
    the r16 bytes-rule (`ivf_topk_indexed_int8` docstring) taken to its
    endpoint. Candidates are scored by the ADC approximate cosine — the
    exact ordered-fold cosine of the query against the candidate's
    RECONSTRUCTION — and the global (acos DESC, id) top-k per query is
    emitted. No rerank mode exists here by design: r16 measured that a
    candidate-filtered float rerank re-reads the probed partitions' float
    column wholesale in a pure-parquet deployment (rerank ≥ float-probe
    bytes); where exact final scores are contractual, serve
    `ivf_topk_indexed_int8(rerank_factor>=1)` or a point-lookup float
    store instead — PQ is the bytes-floor serving shape.

    Contract: scores are bit-comparable with the q122 DuckDB oracle
    (reconstruct-in-SQL, same fold); id ranking degrades only with
    quantization error, measured against float/int8 in recall_bench
    (RECALL_PQ mode)."""
    spark = queries.sparkSession
    corpus, centroids = load_ivf_index(spark, index_path)
    if "pqcodes" not in corpus.columns:
        raise ValueError(
            "index has no PQ codes; build with build_ivf_index(..., "
            "pq_codebooks=...)"
        )
    cb, residual = _collect_codebook(
        spark.read.parquet(f"{index_path.rstrip('/')}/pq_codebooks")
    )
    m, _, sub = cb.shape
    route = _collect_centroids(
        centroids, centroid_id_col="centroid_id", vec_col=vec_col, dim=m * sub
    )
    q_by_cent = _group_queries(
        queries, id_col=id_col, vec_col=vec_col, dim=m * sub, route=route, nprobe=nprobe
    )
    # residual indexes reconstruct candidate ≈ centroid + r̂ — the probe
    # adds the (already-collected) centroid vector back per group
    cent_map = dict(zip(map(_key, route[0]), route[1])) if residual else None

    def score_pq(cent, grp, qm, qn):
        recon = _reconstruct(_decode_codes(grp["pqcodes"], m), cb)
        if cent_map is not None:
            recon = recon + cent_map[cent][None, :]
        rl2 = _seq_sqrt_norms(recon)
        return _seq_score_block(qm, recon) / (
            qn[:, None] * np.where(rl2 == 0.0, np.inf, rl2)[None, :]
        )

    # ---- PQ candidate scan: float/int8 columns NEVER read -----------------
    partials = _topk_partials(
        _probed(corpus, q_by_cent).select(id_col, "centroid_id", "pqcodes"),
        q_by_cent,
        score_pq,
        k=k,
        id_col=id_col,
        q_id_type=_id_type(queries, id_col),
        col="acos",
    )
    return _merge_topk(partials, k, col="acos", rank="rank", rounded=True)
