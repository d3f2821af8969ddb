"""ANN quality-at-scale harness: IVF recall@k vs nprobe, on two corpora.

Speed without a recall number is half a measurement: the IVF rows in
BENCH/SCALE show the probe is cheap, this shows what the cheapness buys.

Two data regimes (RECALL_DATA), because IVF's recall-per-probe is a
property of the DATA's intrinsic cluster structure, not just the index:

* ``scaled`` (default): the driver's embeddings table ×MULT (per-replica
  rotations — build_emb_dir). Measured fact: these vectors are isotropic
  (mean cosine to own-label centroid 0.07; top-10 neighbor label agreement
  at chance), so recall ≈ the scanned corpus fraction NO MATTER how many
  centroids are trained — the information-theoretic floor for
  coarse-quantization ANN on unclustered data. This regime documents the
  floor honestly.
* ``clustered``: a planted mixture (RECALL_CLUSTERS deterministic unit
  centers, per-vector Gaussian noise RECALL_SPREAD, normalized) — the
  shape real embedding corpora have (that's WHY IVF works in practice).
  This regime measures what the index buys when structure exists.

Cost is measured BOTH ways: ``ivf_topk`` (transient — pays query+corpus
assignment per call; at K≈√N the corpus assign alone is ~K/|Q| of brute
force, so large K only pays off through the index) and ``ivf_topk_indexed``
(persisted partition-pruned index — assignment paid once at build, probe
scans ~nprobe/K of the corpus; the 100 TB serving shape).

Protocol: build corpus, train K centroids with a few exact Lloyd steps
(operators.kmeans_update), take every STRIDE-th vector as a query, compute
exact brute-force top-k as ground truth, then recall@k = |ivf ∩ truth| / k
and wall time per nprobe.

RECALL_INT8=1 adds the quantized-probe rows: the index stores int8
vectors (quantize=True), probes rank in int8 and rerank the top
RECALL_RERANK*k in float — recall/cost lands next to the float probe at
the same nprobe, so the 4x-smaller probe working set has a measured
price.

RECALL_PQ=m adds the product-quantization rows (round 16, the bytes-floor
tier past int8): codebooks are trained with seeded per-subspace Lloyd on
the first RECALL_PQ_TRAIN_ROWS vectors (ksub=RECALL_PQ_KSUB, default 256),
the index additionally stores the m-byte PQ code per vector, and each
nprobe row records the PQ probe's wall / bytes-read / recall next to the
float and int8 probes on the SAME index — pq_input_mb vs indexed_input_mb
is the measured compression-as-serving-cost ratio.

Usage: python recall_bench.py   (env: RECALL_DATA=scaled|clustered
RECALL_MULT=100 RECALL_N=200000 RECALL_CLUSTERS=1000 RECALL_SPREAD=0.35
RECALL_QUERIES=1000 RECALL_K=10 RECALL_CENTROIDS=448 RECALL_NPROBES=1,2,...
RECALL_INDEXED=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1). Round-16 knobs
for the HIGH-DIM regime the int8 probe is designed for (VERDICT r15 item
1): RECALL_DIM=768 (clustered corpus dimension), RECALL_TRAIN_SAMPLE=10
(train the quantizer on every s-th vector), RECALL_INDEXED_ONLY=1 (skip
the transient rows), and every indexed probe row now records its BYTES
READ (indexed_input_mb / int8_input_mb / bytes_ratio_float_over_int8 from
the app status store). Prints one JSON line; the round's numbers are
recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from nexgap_spark.operators import similarity as sim
from nexgap_spark.session import get_spark, load_table
from scale_bench import build_emb_dir


def build_clustered_emb(spark, n: int, c: int, dim: int, spread: float, path: str):
    """Planted-mixture corpus: cluster centers are deterministic unit
    Gaussians keyed by cluster id; each vector = center + spread·noise
    (noise keyed by vec_id), normalized. Partition-count independent.

    The reuse check requires a COMMITTED write (_SUCCESS marker), not a
    bare directory — a killed mid-write build must rebuild, not serve a
    partial corpus (r14 review; same failure class as bench._require_tables'
    empty-directory guard)."""
    import os as _os

    if _os.path.exists(f"{path}/embeddings.parquet/_SUCCESS"):
        return
    from nexgap_spark.session import invalidate_scan_path

    invalidate_scan_path(f"{path}/embeddings.parquet")

    def gen(batches):
        import numpy as np
        import pandas as pd

        centers = np.stack(
            [np.random.default_rng(900_000 + j).normal(size=dim) for j in range(c)]
        )
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        # noise scaled by 1/sqrt(dim) so ``spread`` is the expected noise
        # NORM relative to the unit center (per-dim sigma would give norm
        # spread*sqrt(dim) and drown the center — the r14 first-run bug)
        sigma = spread / (dim ** 0.5)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = []
            for i in ids:
                rng = np.random.default_rng(int(i) + 1)
                v = centers[int(i) % c] + sigma * rng.normal(size=dim)
                v = v / np.linalg.norm(v)
                vecs.append(v.astype("float32"))
            yield pd.DataFrame(
                {"vec_id": ids, "label": ids % c, "embedding": vecs}
            )

    df = spark.range(n).repartition(32).mapInPandas(
        gen, "vec_id long, label long, embedding array<float>"
    )
    df.write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def _input_bytes_total(spark) -> int:
    """Logical bytes READ by the executor JVM — /proc/<jvm>/io rchar.
    Deltas around an action give that action's bytes read — the number the
    int8 probe's 4x-working-set claim is about (VERDICT r15 item 1).

    Why rchar and not Spark's own counters (measured r16): the
    app-status-store StageData.inputBytes AND the Hadoop FileSystem
    statistics both register ~0.2 MB for a full 3.1 GB embedding-column
    scan on this setup (the vectorized parquet reader's NIO path bypasses
    both), while rchar deltas reproduce file sizes exactly — 3097 MB for
    that same scan, 23 MB for the id-column-only scan, so COLUMN pruning
    is visible, which is the whole point. Local-mode only by design (every
    executor shares the driver JVM); includes shuffle-file reads, which
    are negligible for the partition-pruned probes this instruments."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def main() -> None:
    data = os.environ.get("RECALL_DATA", "scaled")
    mult = int(os.environ.get("RECALL_MULT", "100"))
    k = int(os.environ.get("RECALL_K", "10"))
    n_cent = int(os.environ.get("RECALL_CENTROIDS", "16"))
    dim = int(os.environ.get("RECALL_DIM", "64"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("recall_bench")
    if data == "clustered":
        n = int(os.environ.get("RECALL_N", "200000"))
        c = int(os.environ.get("RECALL_CLUSTERS", "1000"))
        spread = float(os.environ.get("RECALL_SPREAD", "0.35"))
        d = f"/tmp/nexgap_recall_clustered_n{n}_c{c}_s{spread}" + (
            f"_d{dim}" if dim != 64 else ""
        )
        build_clustered_emb(spark, n, c, dim, spread, d)
    else:
        d = f"/tmp/nexgap_scale_emb_x{mult}"
        build_emb_dir(spark, sf_dir, mult, d)
    emb = load_table(spark, d, "embeddings")
    n = emb.count()

    # RECALL_REUSE_INDEX=1 + an already-committed index + indexed-only
    # probes: training and building can both be skipped — the metric
    # harness then iterates on probe instrumentation without re-paying the
    # 4-minute build (the centroids the indexed probes route on live
    # INSIDE the index layout)
    want_int8 = bool(os.environ.get("RECALL_INT8", ""))
    pq_m = int(os.environ.get("RECALL_PQ", "0"))
    indexed_only = bool(os.environ.get("RECALL_INDEXED_ONLY", ""))
    maybe_index_path = (
        f"{d}/ivf_index_k{n_cent}"
        + ("_q8" if want_int8 else "")
        + (
            f"_pq{'r' if os.environ.get('RECALL_PQ_RESIDUAL', '') else ''}{pq_m}"
            if pq_m
            else ""
        )
    )
    reuse_index = bool(os.environ.get("RECALL_REUSE_INDEX", "")) and os.path.exists(
        f"{maybe_index_path}/corpus/_SUCCESS"
    )

    # K seed vectors -> 3 exact Lloyd steps (enough to spread the seeds;
    # the harness measures the INDEX the engine would really serve, not a
    # lucky initialization). RECALL_TRAIN_SAMPLE=s trains the quantizer on
    # every s-th vector — standard IVF practice at corpus sizes where full
    # Lloyd passes dominate the harness (the index ASSIGNMENT still covers
    # the full corpus)
    t_train0 = time.time()
    train_stride = int(os.environ.get("RECALL_TRAIN_SAMPLE", "1"))
    train_emb = (
        emb.filter(F.col("vec_id") % train_stride == 0) if train_stride > 1 else emb
    )
    cents = emb.filter(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    for _ in range(0 if (reuse_index and indexed_only) else 3):
        upd = sim.kmeans_update(train_emb, cents, dim=dim)
        cents = (
            upd.groupBy("centroid_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("pos", (F.col("dim_sum") / F.col("n_members")).alias("v")))
                ).alias("pairs")
            )
            .select(
                "centroid_id",
                F.expr("transform(pairs, p -> CAST(p.v AS float))").alias("embedding"),
            )
        )
        cents = spark.createDataFrame(cents.toPandas())  # pin tiny table
    t_train = round(time.time() - t_train0, 2)

    # fail-loud BEFORE the expensive ground-truth pass: an nprobe list
    # that filters to empty must not cost a brute-force collect + index
    # build first (r15 review moved this up from the sweep loop)
    probes_env = os.environ.get("RECALL_NPROBES", "")
    probes = (
        [int(p) for p in probes_env.split(",") if p.strip()]
        if probes_env
        else [1, 2, 4, 8, n_cent]
    )
    usable = sorted({p for p in probes if p <= n_cent})
    if probes and not usable:
        raise SystemExit(
            f"RECALL_NPROBES={probes} all exceed n_cent={n_cent}; nothing to sweep"
        )

    n_queries = int(os.environ.get("RECALL_QUERIES", "100"))
    stride = max(n // n_queries, 1)
    # materialize the query set to its own (tiny) parquet: a filter over
    # the corpus table re-SCANS the whole corpus on every probe call, which
    # would swamp the probe-side input-bytes measurement at high dim
    qpath = f"{d}/queries_s{stride}.parquet"
    if not os.path.exists(f"{qpath}/_SUCCESS"):
        emb.filter(F.col("vec_id") % stride == 0).write.mode("overwrite").parquet(
            qpath
        )
    queries = spark.read.parquet(qpath)
    n_q = queries.count()

    # ground truth is PURE derived data on an immutable corpus — cache it
    # next to the corpus so metric-harness iterations don't re-pay the
    # brute-force pass (869 s at 1M x 768d)
    tpath = f"{d}/truth_s{stride}_k{k}.parquet"
    t_brute: float | None
    if os.path.exists(f"{tpath}/_SUCCESS"):
        truth_rows = spark.read.parquet(tpath).collect()
        t_brute = None  # cached; the original cost is in the first artifact
    else:
        t0 = time.time()
        bf = sim.brute_force_topk(queries, emb, k=k, dim=dim).select("q_id", "n_id")
        bf.write.mode("overwrite").parquet(tpath)
        truth_rows = spark.read.parquet(tpath).collect()
        t_brute = round(time.time() - t0, 2)
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r.q_id, set()).add(r.n_id)

    out = {
        "data": data, "corpus": n, "dim": dim, "n_queries": n_q, "k": k,
        "n_centroids": n_cent, "train_sec": t_train,
        "brute_force_sec": t_brute, "nprobe": {},
    }
    if data == "clustered":
        out.update(
            clusters=int(os.environ.get("RECALL_CLUSTERS", "1000")),
            spread=float(os.environ.get("RECALL_SPREAD", "0.35")),
        )
    else:
        out["mult"] = mult

    index_path = None
    if os.environ.get("RECALL_INDEXED", "") or want_int8:
        index_path = maybe_index_path
        if reuse_index:
            out["index_reused"] = True
        else:
            codebooks = None
            if pq_m:
                from nexgap_spark.operators import pq as pqmod

                t0 = time.time()
                codebooks = pqmod.pq_train_codebooks(
                    emb,
                    m=pq_m,
                    ksub=int(os.environ.get("RECALL_PQ_KSUB", "256")),
                    dim=dim,
                    sample_rows=int(os.environ.get("RECALL_PQ_TRAIN_ROWS", "50000")),
                    iters=int(os.environ.get("RECALL_PQ_ITERS", "8")),
                    # RECALL_PQ_RESIDUAL=1: IVF-PQ residual codebooks —
                    # measured essential on clustered data (raw-vector PQ
                    # recall collapsed to 0.23; see pq_train_codebooks)
                    centroids=(
                        cents if os.environ.get("RECALL_PQ_RESIDUAL", "") else None
                    ),
                )
                out["pq_train_sec"] = round(time.time() - t0, 2)
                out["pq_residual"] = bool(os.environ.get("RECALL_PQ_RESIDUAL", ""))
            t0 = time.time()
            # one index serves every probe tier: the float probe reads the
            # float column, int8 its qvec tier, PQ its m-byte codes —
            # column pruning charges each probe only for the tier it reads
            sim.build_ivf_index(
                emb, cents, index_path, dim=dim, quantize=want_int8,
                pq_codebooks=codebooks,
            )
            out["index_build_sec"] = round(time.time() - t0, 2)
        out["index_quantized"] = want_int8
        if pq_m:
            out["pq_m"] = pq_m
            out["pq_ksub"] = int(os.environ.get("RECALL_PQ_KSUB", "256"))

    def _recall(rows) -> float:
        got: dict = {}
        for r in rows:
            got.setdefault(r.q_id, set()).add(r.n_id)
        return sum(len(got.get(q, set()) & s) for q, s in truth.items()) / (
            len(truth) * k
        )

    # dedupe/cap (r13 review): probes beyond the centroid count are the
    # same exact search; duplicates would overwrite earlier timings.
    # RECALL_INDEXED_ONLY=1 skips the transient rows — at high dim the
    # per-call corpus re-assignment dominates the harness and the serving
    # question is the INDEXED probe anyway.
    for nprobe in usable:
        cell = {}
        if not indexed_only:
            t0 = time.time()
            rows = sim.ivf_topk(
                queries, emb, cents, k=k, dim=dim, nprobe=nprobe
            ).collect()
            cell = {"recall": round(_recall(rows), 4), "sec": round(time.time() - t0, 2)}
        if index_path is not None:
            b0 = _input_bytes_total(spark)
            t0 = time.time()
            rows_i = sim.ivf_topk_indexed(
                queries, index_path, k=k, dim=dim, nprobe=nprobe
            ).collect()
            cell["indexed_sec"] = round(time.time() - t0, 2)
            cell["indexed_input_mb"] = round((_input_bytes_total(spark) - b0) / 1e6, 1)
            cell["indexed_recall"] = round(_recall(rows_i), 4)
            if want_int8:
                # memory-bound probe: int8 candidate scan + float rerank
                b0 = _input_bytes_total(spark)
                t0 = time.time()
                rows_q = sim.ivf_topk_indexed_int8(
                    queries, index_path, k=k, dim=dim, nprobe=nprobe,
                    rerank_factor=int(os.environ.get("RECALL_RERANK", "4")),
                ).collect()
                cell["int8_sec"] = round(time.time() - t0, 2)
                cell["int8_input_mb"] = round(
                    (_input_bytes_total(spark) - b0) / 1e6, 1
                )
                cell["int8_recall"] = round(_recall(rows_q), 4)
                if cell["int8_input_mb"]:
                    cell["bytes_ratio_float_over_int8"] = round(
                        cell["indexed_input_mb"] / cell["int8_input_mb"], 2
                    )
                # rerank_factor=0: the int8-ONLY ranking — float column
                # never read; the true 4x-bytes serving shape
                b0 = _input_bytes_total(spark)
                t0 = time.time()
                rows_nr = sim.ivf_topk_indexed_int8(
                    queries, index_path, k=k, dim=dim, nprobe=nprobe,
                    rerank_factor=0,
                ).collect()
                cell["int8nr_sec"] = round(time.time() - t0, 2)
                cell["int8nr_input_mb"] = round(
                    (_input_bytes_total(spark) - b0) / 1e6, 1
                )
                cell["int8nr_recall"] = round(_recall(rows_nr), 4)
                if cell["int8nr_input_mb"]:
                    cell["bytes_ratio_float_over_int8nr"] = round(
                        cell["indexed_input_mb"] / cell["int8nr_input_mb"], 2
                    )
            if pq_m:
                from nexgap_spark.operators import pq as pqmod

                # bytes-floor probe: m bytes per candidate, never the
                # float or int8 columns (plan-audited in test_pq)
                b0 = _input_bytes_total(spark)
                t0 = time.time()
                rows_p = pqmod.ivf_topk_indexed_pq(
                    queries, index_path, k=k, nprobe=nprobe
                ).collect()
                cell["pq_sec"] = round(time.time() - t0, 2)
                cell["pq_input_mb"] = round(
                    (_input_bytes_total(spark) - b0) / 1e6, 1
                )
                cell["pq_recall"] = round(_recall(rows_p), 4)
                if cell["pq_input_mb"]:
                    cell["bytes_ratio_float_over_pq"] = round(
                        cell["indexed_input_mb"] / cell["pq_input_mb"], 2
                    )
        out["nprobe"][str(nprobe)] = cell
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
