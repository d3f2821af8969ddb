"""Deduplication operators for LLM training-data pipelines (scale extension):
exact hash dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Design for 100 TB:
  * exact dedup = one shuffle on a 128-bit digest (never on the raw text);
  * MinHash: signatures are computed with a single explode + groupBy
    (map-side partial min per hash function), then LSH banding turns the
    quadratic pair search into an equi-join on (band, bucket);
  * hash functions are md5-derived so results are engine-portable and
    deterministic (Spark's murmur `hash()` has no DuckDB twin);
  * candidate pairs are verified with exact Jaccard on shingle sets only for
    the (tiny) candidate set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexgap_spark.operators.text import tokenize
from nexgap_spark.session import (
    MaterializeGen,
    _plan_stats_bytes,
    fan_out_python_stage,
    materialize,
)

# Fixed affine hash parameters (a, b) for MinHash — odd multipliers, distinct
# offsets; p is the smallest prime above 2^32 so (a*h+b) % p stays in int64.
# per-call suffix for observe() metric names (must be unique per plan).
# itertools.count: next() is a single C call, atomic under the GIL — two
# driver threads building plans concurrently must never mint the same name
# (composing their frames into one plan would fail analysis).
import itertools
import logging

_OBSERVE_SEQ = itertools.count(1)
_LOG = logging.getLogger(__name__)

MINHASH_PRIME = 4_294_967_311
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (1_103_515_245, 12_345),
    (214_013, 2_531_011),
    (22_695_477, 1),
    (134_775_813, 1_013_904_223),
    (1_664_525, 1_013_904_223),
    (69_069, 362_437),
    (48_271, 11_213),
    (16_807, 987_654_321),
)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def hexint(col: Column, chars: int = 8) -> Column:
    """Engine-portable integer hash: first ``chars`` hex digits of md5 as a
    long (chars ≤ 15 keeps it in signed-64 range)."""
    return F.conv(F.substring(F.md5(col), 1, chars), 16, 10).cast("long")


def content_key(
    text_col: str, id_col: str | None = None, *, normalize: bool = True
) -> Column:
    """THE exact-dedup grouping key, shared by exact_dedup / dup_stats /
    incremental_exact so the digest contract can never drift between batch
    dedup, stats, and the incremental ledger: md5 of the (optionally
    normalized) text, with a per-row ``\\0null:``-prefixed fallback for NULL
    text (NULL carries no equality semantics — grouping on md5(NULL)=NULL
    would silently collapse every null-text doc into one survivor). The \\0
    prefix cannot collide with md5 hex output. When ``id_col`` is given the
    fallback prefers the document id (stable across runs); a NULL id — or
    id_col=None — falls back to monotonically_increasing_id so (NULL text,
    NULL id) rows still key uniquely instead of re-collapsing."""
    key = F.md5(normalize_text(text_col) if normalize else F.col(text_col))
    rid = F.monotonically_increasing_id().cast("string")
    if id_col is not None:
        rid = F.coalesce(F.col(id_col).cast("string"), rid)
    return F.coalesce(key, F.concat(F.lit("\0null:"), rid))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.
    Shuffle key is the md5 digest, not the document body — at 100 TB the
    shuffle carries 16 bytes + id per row.

    NULL text carries no equality semantics (failed extraction, schema
    drift) — md5(NULL) is NULL for every such row, and grouping on it
    would silently collapse ALL null-text documents to one survivor. Each
    NULL row instead gets a per-row key derived from its id, so they all
    pass through."""
    return (
        df.withColumn("_h", content_key(text_col, id_col, normalize=normalize))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .drop("_h")
    )


def dup_stats(df: DataFrame, *, text_col: str = "text", normalize: bool = True) -> DataFrame:
    """One-row dedup summary: docs, distinct digests, duplicate groups,
    largest group. NULL-text rows count as singletons (same contract as
    exact_dedup: NULL is not equal to NULL), each keyed uniquely — the \\0
    prefix cannot collide with md5 hex output."""
    key = content_key(text_col, None, normalize=normalize)
    groups = df.select(key.alias("h")).groupBy("h").agg(F.count("*").alias("c"))
    return groups.agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.sum((F.col("c") > 1).cast("long")).alias("n_dup_groups"),
        F.max("c").alias("max_group_size"),
    )


# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def shingle_table(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    normalize: bool = False,
    distinct: bool = True,
    fixed_width: bool = False,
) -> DataFrame:
    """(id, shingle) rows — word n-grams per document, distinct by default.

    Built with explode(sequence) + element_at instead of array-lambda HOFs:
    higher-order functions are interpreted per element (never codegen'd),
    which serializes the hottest loop of the dedup path. The input is also
    fanned out first (fan_out_python_stage) — a single-file parquet scan
    is one partition, and everything narrow downstream would inherit that
    serial bottleneck; a corpus whose scan already yields ≥ core-count
    splits skips the shuffle (r17 — the unconditional repartition was a
    full-text round-robin exchange at scale for no width gain).

    ``distinct=False`` skips the dedup shuffle (260 k-row exchange at
    sf0.1, the single most expensive stage of the signature path) for
    consumers whose aggregate is duplicate-insensitive — MIN-based MinHash
    signatures give the identical result on the multiset. Jaccard/count
    consumers (verify_jaccard, ngram_jaccard_pairs) need the default.

    ``fixed_width=True`` (r17) replaces the distinct's coalescible
    ENSURE_REQUIREMENTS exchange with an explicit keyed repartition to
    defaultParallelism — same single shuffle on (id, shingle), but its
    REPARTITION_BY_NUM origin is exempt from AQE byte-based coalescing.
    Callers that MATERIALIZE the distinct table must use this: AQE
    coalesced the distinct output to ONE partition (its compressed bytes
    look tiny), and a checkpoint pins that width — every consumer of the
    materialized frame then ran serially (measured at sf1.0: q31-mat
    best 10 s but 87-187 s stalls; fixed-width mat is stable). The trade
    is losing map-side partial dedup before the exchange, which is ~7%
    of the stream here (shingles are near-unique within a partition).
    Width (r18): adaptive_width(df) — input-size-derived, equal to core
    count on any at-scale input (the shared_shingles gate only opens at
    ≥ 1 MB, where the width is already a healthy fraction of cores)."""
    from nexgap_spark.session import adaptive_width

    par = adaptive_width(df)
    toks = (
        F.split(normalize_text(text_col), " ") if normalize else tokenize(text_col)
    )
    base = (
        fan_out_python_stage(df)
        .select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= shingle_n)
    )
    idx = base.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(
            F.sequence(F.lit(1), F.size("_toks") - (shingle_n - 1))
        ).alias("_i"),
    )
    parts = [F.element_at("_toks", F.col("_i") + j) for j in range(shingle_n)]
    out = idx.select(F.col(id_col), F.concat_ws(" ", *parts).alias("shingle"))
    if not distinct:
        return out
    if fixed_width:
        out = out.repartition(par, F.col(id_col), F.col("shingle"))
        # the keyed repartition satisfies the dedup aggregate's required
        # clustering, so no second exchange is planned
        return out.dropDuplicates()
    return out.distinct()


# Input size above which shared_shingles materializes its table (see there).
SHINGLE_MAT_MIN_BYTES = 1024 * 1024


def shared_shingles(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Distinct shingle table for MULTI-CONSUMER lineages (signature path +
    verify_jaccard): one materialized fixed-width copy when the input is
    large, plain recompute-per-consumer when it is small.

    The optimizer eliminates the duplicate-insensitive distinct below the
    MIN signature aggregate, so the signature and verify subtrees stop
    being canonically equal and AQE stage reuse cannot bridge them — a lazy
    plan runs the scan→tokenize→explode→distinct chain once per consumer
    (q31 before-plan: 8 scans, 2 independent explode chains). Above the
    size gate the shared copy is strictly less I/O (ONE scan+explode+
    shuffle of the corpus instead of two at 100 TB); below it the
    checkpoint's write+read+barrier costs more than the duplicated subtree.
    Three measured points (interleaved A/B, best-of-3): sf0.1 ≈ 0.6 MB
    input, materialize LOSES ~20-25% on q31/q43/q118 (r17 box); ×3 ≈
    2.0 MB, materialize WINS 20-30% (r18 box, bench_r18 sweep); sf1.0 ≈
    6.6 MB, materialize WINS 30-40% (r17 box). The crossover therefore
    sits between 0.6 and 2.0 MB; the threshold is their geometric
    midpoint ≈ 1 MB (r18 — the old 4 MB two-point default was ~2-4×
    conservative), and any production corpus is far above it either way:
    ``SHINGLE_MAT_MIN_BYTES``, compared with the optimizer's size estimate
    (on-disk bytes for a parquet scan, no job).

    ``size_of``: optional frame whose plan estimate stands in for ``df``'s
    when ``df`` is checkpoint-backed (RDD lineages report the conservative
    huge default) — callers pass the upstream scan the frame derives from,
    which errs toward the at-scale shape since derived rows ≤ input."""
    if _plan_stats_bytes(size_of if size_of is not None else df) < SHINGLE_MAT_MIN_BYTES:
        return shingle_table(
            df, id_col=id_col, text_col=text_col, shingle_n=shingle_n
        )
    return materialize(
        shingle_table(
            df, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
            fixed_width=True,
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature: one column ``mh0..mh{k-1}`` per hash
    function. Single groupBy — partial mins combine map-side, so the shuffle
    carries k longs per document regardless of document size."""
    if num_hashes > len(MINHASH_PARAMS):
        raise ValueError(f"at most {len(MINHASH_PARAMS)} hash functions built in")
    # Materialize the base hash ONCE in a projection: aggregate expressions
    # are evaluated independently, so embedding md5+conv in each min() would
    # recompute it num_hashes× per row.
    hashed = shingles.withColumn("_hv", hexint(F.col("shingle")))
    aggs = []
    for j in range(num_hashes):
        a, b = MINHASH_PARAMS[j]
        aggs.append(
            F.min((F.col("_hv") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
                f"mh{j}"
            )
        )
    return hashed.groupBy(id_col).agg(*aggs)


def cap_partition_size(
    df: DataFrame,
    part_keys: list[str],
    max_size: int | None,
    *,
    mode: str = "drop",
    metric_prefix: str = "partition_cap",
    id_col: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """Shared mega-partition guard (one implementation for every bucketed
    pairwise stage — incremental_minhash's band buckets, semantic_dedup's
    clusters; lsh_candidate_pairs keeps its measured in-place variant):
    count rows per ``part_keys`` group with a window, emit an observed
    metric for the affected rows, then either ``"drop"`` the oversize
    groups entirely or ``"salt"``-split them into hash sub-groups of the
    ``id_col`` (bounding downstream pair output by size·cap instead of
    size²). Returns (df, effective part keys) — salt mode appends
    ``_salt`` so the caller's joins stay within a sub-group."""
    keys = list(part_keys)
    if max_size is None:
        return df, keys
    if mode not in ("drop", "salt"):
        raise ValueError(f"mode must be 'drop' or 'salt', got {mode!r}")
    if mode == "salt" and id_col is None:
        raise ValueError("salt mode needs id_col for the sub-group hash")
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    sized = df.withColumn("_psz", F.count(F.lit(1)).over(w))
    over = F.col("_psz") > max_size
    affected = "dropped" if mode == "drop" else "salted"
    sized = sized.observe(
        f"{metric_prefix}_{next(_OBSERVE_SEQ)}",
        F.sum(over.cast("long")).alias(f"{affected}_rows"),
    )
    if mode == "drop":
        return sized.filter(~over).drop("_psz"), keys
    n_sub = F.greatest(F.ceil(F.col("_psz") / F.lit(max_size)), F.lit(1))
    out = sized.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), n_sub).cast("int")
    ).drop("_psz")
    return out, keys + ["_salt"]


def _band_buckets(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, bucket) rows: the signature banded into ``bands`` slices,
    each bucketed by md5 of its slice (band id is part of the output key,
    so cross-band bucket collisions cannot conflate). Shared by
    lsh_candidate_pairs (self-join form) and incremental_minhash
    (batch-vs-ledger join form) so both sides of an incremental run bucket
    identically."""
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("-", *[c.cast("string") for c in cols])).alias("bucket"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_rows)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 10_000,
    oversized: str = "drop",
    log_drops: bool = False,
) -> DataFrame:
    """Band the signature and equi-join on (band, bucket) to produce candidate
    pairs (a < b). The join key is an md5 of the band slice, so bucket
    collisions across bands are impossible to conflate (band id is in the
    key). This is the step that makes near-dup linear-ish instead of O(n²).

    ``max_bucket_size`` is the mega-bucket guard: a boilerplate cluster of k
    near-identical docs lands in ONE (band, bucket) and would emit k² pairs —
    the genuine 100 TB blow-up in banded LSH. ``oversized`` picks the
    treatment for buckets above the cap:

    * ``"drop"`` (default): exclude the bucket from the self-join entirely.
      Deterministic and cheapest; its members almost always co-occur in
      *some* other sane bucket, or are exact dups better handled by hash
      dedup first.
    * ``"salt"``: split the bucket into ceil(size/cap) hash sub-buckets and
      pair only within a sub-bucket — output bounded by size·cap instead of
      size², recall loss limited to cross-sub-bucket pairs (which still get
      their chance in the other bands, where the salt layout repeats only
      for identical bucket sizes).

    Neither treatment is silent: every plan carries an ``lsh_bucket_cap``
    observed metric (exact rows in oversized buckets + approx oversized
    bucket count, collected during the consuming action at zero extra
    cost), and ``log_drops=True`` additionally emits the numbers eagerly
    through the module logger (costs one extra job — keep off in
    benchmarked paths). ``None`` disables the cap.

    Guard cost, measured at sf0.1: the window count adds a (band, bucket)
    hash-shuffle + sort of the bucket rows ahead of the join's own shuffle
    (capped 1.28 s vs uncapped 0.81 s; an aggregate+broadcast-anti-join
    variant measured identical at 1.25 s, so the simpler window wins).
    That ~50% premium on this one stage is the insurance price for never
    materializing a k² pair explosion — at 100 TB the uncapped failure
    mode is a dead executor, not a slow stage.
    """
    from pyspark.sql import Window

    if bands < 1 or rows_per_band < 1:
        # rows_per_band=0 (e.g. minhash_dedup with bands > num_hashes)
        # would make every band key md5('') — ONE bucket holding the whole
        # corpus, i.e. the exact O(n²) self-join LSH exists to avoid (or,
        # capped, zero candidate pairs). Fail loudly instead.
        raise ValueError(
            f"need bands >= 1 and rows_per_band >= 1, got bands={bands}, "
            f"rows_per_band={rows_per_band}"
        )
    if oversized not in ("drop", "salt"):
        raise ValueError(f"oversized must be 'drop' or 'salt', got {oversized!r}")
    buckets = _band_buckets(
        signatures, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    join_keys = ["band", "bucket"]
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        sized = buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        over = F.col("_bsz") > max_bucket_size
        # observe() forbids DISTINCT aggregates → approx sketch for the
        # bucket count (exact rows, approx distinct buckets is plenty for a
        # telemetry signal). Metric names must be unique within ONE plan —
        # two capped pairings composed lazily (chained minhash_dedup, a
        # union of two corpora's pipelines) would otherwise fail analysis —
        # so each call numbers its metric. Labels reflect the ACTIVE
        # treatment: drop mode excludes rows (recall loss), salt mode only
        # re-partitions them (no loss) — calling salted rows "dropped"
        # would mis-tune whoever reads the metric.
        affected = "dropped" if oversized == "drop" else "salted"
        sized = sized.observe(
            f"lsh_bucket_cap_{next(_OBSERVE_SEQ)}",
            F.sum(over.cast("long")).alias(f"{affected}_rows"),
            F.approx_count_distinct(
                F.when(over, F.concat_ws("/", "band", "bucket"))
            ).alias(f"{affected}_buckets"),
        )
        if log_drops:
            stats = sized.agg(
                F.sum(over.cast("long")).alias("rows"),
                F.count_distinct(F.when(over, F.concat_ws("/", "band", "bucket"))).alias("buckets"),
            ).first()
            if stats["rows"]:
                action = (
                    "member rows excluded"
                    if oversized == "drop"
                    else "member rows salted into bounded sub-buckets (none excluded)"
                )
                _LOG.warning(
                    "[lsh] capped %s bucket(s) over %s: %s %s",
                    stats["buckets"], max_bucket_size, stats["rows"], action,
                )
        if oversized == "drop":
            buckets = sized.filter(~over).drop("_bsz")
        else:
            n_sub = F.greatest(
                F.ceil(F.col("_bsz") / F.lit(max_bucket_size)), F.lit(1)
            )
            buckets = sized.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(id_col)), n_sub).cast("int")
            ).drop("_bsz")
            join_keys = ["band", "bucket", "_salt"]
    left = buckets.select(F.col(id_col).alias("a"), *join_keys)
    right = buckets.select(F.col(id_col).alias("b"), *join_keys)
    return (
        left.join(right, join_keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame,
    shingles: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard for candidate pairs: |A∩B| via a join through the shingle
    table restricted to candidate ids, |A|,|B| from per-doc counts."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
    sa = shingles.select(F.col(id_col).alias("a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("b"), "shingle")
    common = (
        pairs.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
    )


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end near-dup removal: LSH candidates → exact-Jaccard verify →
    drop the higher id of each confirmed pair (connected-components-lite:
    repeated application converges; one pass removes direct dups).
    Text is case/whitespace-normalized before shingling, so formatting
    variants of the same document dedupe."""
    sh = shingle_table(
        df, id_col=id_col, text_col=text_col, shingle_n=shingle_n, normalize=True
    )
    if bands < 1 or num_hashes % bands != 0:
        # floor division would silently discard the trailing hash functions
        # (bands=3, num_hashes=8 → only mh0..mh5 used), changing the LSH
        # probability curve the caller tuned for
        raise ValueError(
            f"bands must divide num_hashes, got num_hashes={num_hashes}, bands={bands}"
        )
    sigs = minhash_signatures(sh, id_col=id_col, num_hashes=num_hashes)
    cand = lsh_candidate_pairs(
        sigs, id_col=id_col, bands=bands, rows_per_band=num_hashes // bands
    )
    dups = (
        verify_jaccard(cand, sh, id_col=id_col)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return df.join(dups, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over term-frequency-weighted token hashes.

    Explode tokens once; per bit, sum ±1 contributions; reassemble the
    fingerprint. The explode is the cost driver — at scale prefer
    ``bits`` ≤ 32 and pre-filtered docs. Hamming-close fingerprints ⇒
    near-duplicates.

    The token hash must be at least ``bits`` wide: hexint's 8-hex-char
    default covers 32 bits; wider fingerprints draw 15 hex chars (60 bits).
    Without this, every bit above the hash width would test shiftright==1
    against a zero and come out constantly 0 — silently identical
    discrimination to bits=32 at 2× the aggregate cost. bits > 60 is
    rejected (and 1<<63 would overflow signed int64 anyway)."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    toks = tokenize(text_col)
    exploded = (
        fan_out_python_stage(df)
        .select(F.col(id_col), F.explode(toks).alias("tok"))
        .withColumn("h", hexint(F.col("tok"), 8 if bits <= 32 else 15))
    )
    bit_sums = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return bit_sums.select(F.col(id_col), fp.alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct, for modest corpora / verification)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle equi-join (no LSH shortcut).
    Quadratic in colliding docs — the verification path and the small-corpus
    baseline; MinHash+LSH above is the 100 TB path."""
    sh = shingle_table(df, id_col=id_col, text_col=text_col, shingle_n=shingle_n)
    pairs = (
        sh.select(F.col(id_col).alias("a"), "shingle")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    return (
        pairs.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# Edge count from which dup_groups writes its bucketed edge store. Below it
# the label frame broadcasts (4M edges ≈ the 64 MB broadcast threshold at
# 16 B/row), the edge side is never exchanged, and the store's one-time
# write would be pure overhead.
CC_BUCKET_MIN_EDGES = 4_000_000


def _bucketed_edge_store(edges: DataFrame):
    """Write the materialized symmetric edge list ONCE as a bucketed-and-
    sorted external table on ``m`` and return (bucketed_scan, cleanup).

    Each CC round's ``edges ⋈ labels ON m`` then reads the edge side
    pre-clustered (FileScan with bucket metadata): no per-round edge
    exchange, and with one sorted file per bucket no per-round edge sort
    either — only the (much smaller) label frame is exchanged. The store
    lives under the reliable checkpoint dir when one is configured, else
    the session temp root; one table per call, dropped by ``cleanup``.

    Bucket count: defaultParallelism — the cluster-wide core count is the
    natural reduce-side width for the loop joins this table feeds."""
    import uuid

    from nexgap_spark.session import _local_mat_root
    from nexgap_spark.sources.bucketed import read_bucketed, write_bucketed

    spark = edges.sparkSession
    name = f"nexgap_cc_edges_{uuid.uuid4().hex}"
    ckdir = spark.sparkContext.getCheckpointDir()
    root = ckdir.rstrip("/") if ckdir else _local_mat_root()
    path = f"{root}/{name}"
    buckets = spark.sparkContext.defaultParallelism
    write_bucketed(
        edges, name, path, bucket_cols=["m"], buckets=buckets, sort_cols=["m"]
    )

    def cleanup() -> None:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
            fs.delete(jpath, True)
        except Exception:  # noqa: BLE001 — best-effort; the dir is reaped
            # with the checkpoint/temp root either way
            logging.getLogger(__name__).warning(
                "[dup_groups] failed to drop edge store %s", name
            )

    return read_bucketed(spark, name), cleanup


def dup_groups(
    pairs: DataFrame,
    *,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → (node, group_id)
    with group_id = the smallest node id reachable from the node.

    Hash-min label propagation: every node starts labeled with itself; each
    round, a node adopts the minimum label among itself and its neighbors;
    stop when a round changes nothing. Rounds needed = graph diameter — for
    near-dup graphs that is tiny (dup clusters are cliques or short chains),
    so the loop count is data-bounded, not O(V). A component longer than
    ``max_iterations`` rounds is NOT final: the loop warns and reports
    ``converged=0`` on the returned plan.

    Each round is one groupBy over the edge list (shuffle on node id); labels
    stay (node, label) pairs — the standard large-scale CC recipe short of
    GraphFrames. Round 1 is computed directly as ``least(n, min(m))`` off the
    edge list (every node starts labeled with itself), which saves the node
    set, the join and the union of the general round.

    Materialization: the symmetric edge list is materialized ONCE before the
    loop (its upstream is typically the whole shingle→minhash→LSH→verify
    pipeline, which every round would otherwise replay), and each round's
    label frame is materialized so the next round reads rows instead of a
    lineage that deepens by one join per round. Both route through
    session.materialize, so a configured checkpoint dir makes the loop
    survive executor loss. Above ``CC_BUCKET_MIN_EDGES`` edges the edge list
    is written once as a bucketed-and-sorted table on ``m``, so the rounds'
    sort-merge joins read a pre-clustered edge side instead of re-exchanging
    it every round.

    Convergence: labels only decrease, so a round changed nothing iff no
    node's new label is below its previous one. Each round's groupBy carries
    the previous label as ``own`` next to the new minimum, and the count of
    ``label < own`` is observed during the round's own materialize action —
    one check for every id type, and no extra job.
    """
    from pyspark.sql import Observation

    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    sym = (
        pairs.select(F.col(a_col).alias("n"), F.col(b_col).alias("m"))
        .unionByName(pairs.select(F.col(b_col).alias("n"), F.col(a_col).alias("m")))
        .distinct()
    )
    # exact edge count fused into the materialize action: it gates the
    # bucketed edge store
    edge_obs = Observation(f"dup_groups_edges_{next(_OBSERVE_SEQ)}")
    edges = materialize(sym.observe(edge_obs, F.count(F.lit(1)).alias("c")))
    edge_store_cleanup = None
    if int(edge_obs.get["c"]) >= CC_BUCKET_MIN_EDGES:
        edges, edge_store_cleanup = _bucketed_edge_store(edges)
    # Reliable mode: round N's materialize reads only round N-1 and the
    # returned frame reads only the last round, so a generation handle keeps
    # the live checkpoint dirs at 2 instead of one per round. The edge list
    # is NOT on the handle — every round reads it.
    gen = MaterializeGen(keep=2)

    def _round(frame: DataFrame) -> tuple[DataFrame, int]:
        """Materialize one round's (n, label, own) frame as (n, label) and
        return it with the number of nodes whose label dropped."""
        obs = Observation(f"dup_groups_changed_{next(_OBSERVE_SEQ)}")
        changed = F.count(F.when(F.col("label") < F.col("own"), 1))
        out = materialize(
            frame.observe(obs, changed.alias("c")).select("n", "label"), gen=gen
        )
        return out, int(obs.get["c"])

    try:
        labels, changed = _round(
            edges.groupBy("n")
            .agg(F.min("m").alias("_mm"))
            .select(
                "n",
                F.least(F.col("n"), F.col("_mm")).alias("label"),
                F.col("n").alias("own"),
            )
        )
        rounds_used = 1
        while changed and rounds_used < max_iterations:
            # new label = min over the node's own label and its neighbors'
            neigh = (
                edges.join(labels.withColumnRenamed("n", "m"), "m")
                .select("n", "label", F.lit(None).alias("own"))
                .unionByName(labels.withColumn("own", F.col("label")))
                .groupBy("n")
                .agg(F.min("label").alias("label"), F.max("own").alias("own"))
            )
            labels, changed = _round(neigh)
            rounds_used += 1
        converged = not changed
        if not converged:
            # a chain-shaped component is longer than max_iterations and its
            # labels are NOT final. A driver print is invisible on a cluster:
            # warn AND carry the status on the returned plan (below).
            import warnings

            warnings.warn(
                f"[dup_groups] label propagation did not converge in "
                f"{max_iterations} rounds; group ids for long-chain components "
                "are unstable — raise max_iterations",
                stacklevel=2,
            )
    finally:
        # the returned frame reads only the last round's labels, never the
        # edge table — safe to drop it here (and on any mid-loop failure)
        if edge_store_cleanup is not None:
            edge_store_cleanup()
    out = labels.select(F.col("n"), F.col("label").alias("group_id"))
    # convergence was decided driver-side by the eager loop, so the metric
    # carries literals: zero extra compute on the consuming action, but
    # visible wherever the plan is executed.
    return out.observe(
        f"dup_groups_convergence_{next(_OBSERVE_SEQ)}",
        F.max(F.lit(1 if converged else 0)).alias("converged"),
        F.max(F.lit(rounds_used)).alias("rounds_used"),
    )


def capped_broadcast(small: DataFrame, *, max_rows: int = 5_000_000) -> DataFrame:
    """Broadcast ``small`` only under an explicit row cap; above it, return
    it un-hinted so AQE plans the shuffle join. localCheckpoint (eager)
    materializes the frame once so the cap check costs one count, not a
    second pass over its lineage — and unlike persist(), the blocks are
    released by the ContextCleaner when the DataFrame goes out of scope.
    Every caller here has an EXPENSIVE build-side lineage (minhash/LSH
    chains, gram aggregations), so the materialization always pays; the
    span family, whose build sides are scan+project plans, keeps its own
    checkpoint-free policy in span_tree._parent_side.

    The single definition of the membership-join policy: engine.dedup_corpus
    and dedup_corpus_join both route here so the cap can't drift."""
    small = materialize(small)
    if small.count() <= max_rows:  # default ≈120 MB of ids
        small = F.broadcast(small)
    return small


def dedup_corpus_join(
    docs: DataFrame,
    membership: DataFrame,
    *,
    id_col: str = "doc_id",
    max_broadcast_rows: int = 5_000_000,
) -> DataFrame:
    """Corpus dedup end-product: keep canonical docs (group_id == doc_id) and
    every doc with no near-dup, carrying ``group_size`` as provenance.

    ``membership`` is (doc_id, group_id, group_size) for docs that HAVE a
    near-dup — usually tiny relative to the corpus, so the corpus-side join
    broadcasts and the corpus itself never shuffles. "Usually" is not a plan
    contract: a pathological corpus (mirror crawl, boilerplate flood) can
    make the dup-id set bigger than executor memory, so broadcast only under
    an explicit row cap and fall back to the AQE-planned shuffle join above
    it. localCheckpoint (eager) materializes membership once so the cap
    check costs one count, not a second pass over its lineage (typically
    the whole shingle→minhash→LSH→verify pipeline) — and unlike persist(),
    the blocks are released by the ContextCleaner when the DataFrame goes
    out of scope, so repeated calls don't pin executor memory forever.
    """
    membership = capped_broadcast(membership, max_rows=max_broadcast_rows)
    return (
        docs.join(membership, id_col, "left")
        .filter(F.col("group_id").isNull() | (F.col("group_id") == F.col(id_col)))
        .select(id_col, F.coalesce("group_size", F.lit(1)).alias("group_size"))
    )


def keep_best_per_group(
    docs: DataFrame,
    membership: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "group_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware dedup representative selection: given a near-dup
    membership table (e.g. dup_groups output joined back to doc ids), keep
    the HIGHEST-quality document of each group (lowest id breaks ties, so
    reruns and distributed retries agree) instead of exact_dedup's min-id
    rule — the curation-grade end product: near-dup clusters collapse to
    their best member, not an arbitrary one. Docs absent from the
    membership table are singletons and pass through untouched.

    Scale shape: one shuffle on group_id for the argmax (min_by over a
    (-quality, id) struct — no window sort), then a semi-join of the corpus
    against the winner-id set; the membership side is dup-cluster-sized,
    candidates only. NULL *and NaN* quality rank lowest (NaN would
    otherwise compare ABOVE every real double in Spark's ordering — a
    failed scorer's garbage doc must not beat scored siblings); the
    tiebreak is min-id via struct ordering, not id negation, so string/UUID
    ids work (negating a string id is an ANSI analysis error — the same
    hazard assign_clusters documents)."""
    m = membership.select(F.col(id_col), F.col(group_col))
    joined = docs.select(F.col(id_col), F.col(quality_col)).join(m, id_col, "left")
    q = F.coalesce(
        F.nanvl(F.col(quality_col).cast("double"), F.lit(None).cast("double")),
        F.lit(float("-inf")),
    )
    winners = (
        joined.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.min_by(
                F.col(id_col),
                F.struct((-q).alias("_negq"), F.col(id_col).alias("_id")),
            ).alias(id_col)
        )
        .select(id_col)
    )
    keep = winners.unionByName(
        joined.filter(F.col(group_col).isNull()).select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def incremental_exact(
    new_docs: DataFrame,
    seen_digests: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
    normalize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup against an existing corpus: (fresh docs,
    their digests). A growing 100 TB corpus is deduped batch-by-batch, not
    re-scanned — each new batch is (1) collapsed within itself (min id per
    digest, exact_dedup semantics), then (2) anti-joined against the
    processed-digest ledger (the S4/S5 skip-if-exists pattern applied to
    content rather than trace ids). Union the returned digests into the
    ledger for the next batch.

    The batch shuffles ONCE on its content key, carrying each row whole —
    the batch is one ingest micro-batch; the thing that is 100 TB is the
    LEDGER, and it only ever flows as 16-byte digests. The representative
    per in-batch group is the TYPED min id (exact_dedup's rule, matching a
    MIN(id) SQL oracle — a lexicographic string min would rank id 10 below
    id 2), picked with min_by inside the one groupBy, so there is no
    self-join back to the batch: a NULL-id row can never be dropped by a
    join key that fails to match itself, and nothing depends on
    monotonically_increasing_id evaluating identically in two plan
    branches. NULL-text rows follow exact_dedup's contract: no equality
    semantics, every row passes through (and contributes no ledger
    digest); NULL ids rank after real ids and tie-break on the per-row
    fallback key."""
    key = F.md5(normalize_text(text_col) if normalize else F.col(text_col))
    rid = F.coalesce(
        F.col(id_col).cast("string"), F.monotonically_increasing_id().cast("string")
    )
    hashed = (
        new_docs.withColumn("_h", key)
        .withColumn("_rid", rid)
        .withColumn("_bk", F.coalesce(F.col("_h"), F.concat(F.lit("\0null:"), F.col("_rid"))))
    )
    # (null-id flag, typed id, fallback key): real ids win by typed order;
    # all-NULL-id groups resolve deterministically on the fallback key
    ordk = F.struct(
        F.col(id_col).isNull().cast("int").alias("_nf"),
        F.col(id_col).alias("_id"),
        F.col("_rid").alias("_r"),
    )
    rep_payload = F.struct(*[F.col(c) for c in new_docs.columns], F.col("_h"))
    batch_rep = hashed.groupBy("_bk").agg(F.min_by(rep_payload, ordk).alias("_rep"))
    picked = batch_rep.select(F.col("_rep.*"))
    ledger = seen_digests.select(F.col(digest_col).alias("_h")).distinct()
    # NULL _h (null-text rows) never matches the ledger → always fresh
    fresh = picked.join(ledger, "_h", "left_anti")
    fresh_digests = fresh.filter(F.col("_h").isNotNull()).select(
        F.col("_h").alias(digest_col)
    )
    return fresh.drop("_h"), fresh_digests


def incremental_minhash(
    new_docs: DataFrame,
    seen_sigs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup against a signature ledger: the fuzzy twin
    of incremental_exact. A growing corpus is near-deduped batch-by-batch
    without ever touching the already-ingested text — the ledger stores
    only the MinHash signatures (k longs per doc), which is the entire
    point of a signature sketch: similarity against 100 TB of history costs
    a banded equi-join and a k-component compare, not a re-shingle of the
    archive.

    Per batch: (1) shingle + sign the batch; (2) LSH-band both the batch
    signatures and the ledger signatures with the SAME banding
    (_band_buckets), so candidates are an equi-join on (band, bucket) —
    never an all-pairs scan; (3) estimate Jaccard for each candidate as the
    fraction of equal signature components (the standard MinHash estimator
    — unbiased, and the only estimate available once the original text is
    gone); (4) suppress batch docs whose estimate against ANY ledger doc
    reaches ``threshold``, plus the larger id of any within-batch candidate
    pair at/over threshold (one-pass min-id-survives rule — the transitive
    end-product is dup_groups' job, not the ingest gate's). Docs too short
    to shingle (or NULL text) have no signature, cannot be suppressed, and
    contribute nothing to the ledger — exact_dedup's NULL contract, lifted
    to the fuzzy path.

    Returns (fresh docs, their signatures); union the signatures into the
    ledger for the next batch. Scale shape: the batch shuffles on
    (band, bucket) — 16-byte keys — and the ledger's band rows are pruned
    to the BATCH's distinct buckets (a semi-join) before anything is
    counted or joined, so per-batch cost scales with the buckets the batch
    touches, never with total archive size; the semi-join keeps whole
    buckets, so the capped sizes are the true sizes. Hot buckets on either
    side are dropped past ``max_bucket_size`` (same mega-bucket guard as
    lsh_candidate_pairs — a boilerplate flood in the archive must not turn
    one ingest batch into a k² join)."""
    sh = shingle_table(
        new_docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        distinct=False,  # MIN-agg signatures are duplicate-insensitive
    )
    # materialize the batch signatures ONCE (r17): five consumers below
    # (band rows, the estimator's sig_n, and the within-batch path's
    # lsh_candidate_pairs + sig_a + sig_b) would each replay the
    # shingle+hash+MIN pipeline from the scan — AQE stage reuse does not
    # bridge them because join-pushed IsNotNull predicates split the
    # canonical subtrees. The signature frame is k longs per doc (tiny
    # vs the corpus at any scale), so one checkpointed copy is the right
    # trade everywhere. Measured at sf0.1: q100 3.5 s → 2.5 s interleaved.
    sigs = materialize(minhash_signatures(sh, id_col=id_col, num_hashes=num_hashes))
    mh = [f"mh{j}" for j in range(num_hashes)]

    bb_new, _ = cap_partition_size(
        _band_buckets(sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band),
        ["band", "bucket"],
        max_bucket_size,
        metric_prefix="incr_minhash_bucket_cap",
    )
    bb_led_raw = _band_buckets(
        seen_sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    # prune the (arbitrarily large) ledger to the batch's touched buckets
    # BEFORE sizing/joining — whole buckets survive the semi-join, so the
    # cap still sees true bucket sizes
    touched = bb_new.select("band", "bucket").distinct()
    bb_led, _ = cap_partition_size(
        bb_led_raw.join(touched, ["band", "bucket"], "left_semi"),
        ["band", "bucket"],
        max_bucket_size,
        metric_prefix="incr_minhash_bucket_cap",
    )
    cand_led = (
        bb_new.select(F.col(id_col).alias("_n"), "band", "bucket")
        .join(bb_led.select(F.col(id_col).alias("_l"), "band", "bucket"), ["band", "bucket"])
        .select("_n", "_l")
        .distinct()
    )
    sig_n = sigs.select(
        F.col(id_col).alias("_n"), *[F.col(c).alias(f"_n_{c}") for c in mh]
    )
    sig_l = seen_sigs.select(
        F.col(id_col).alias("_l"), *[F.col(c).alias(f"_l_{c}") for c in mh]
    )
    def _est(pfx_a: str, pfx_b: str):
        import functools
        import operator as _op

        eq = [
            (F.col(f"{pfx_a}{c}") == F.col(f"{pfx_b}{c}")).cast("int") for c in mh
        ]
        return functools.reduce(_op.add, eq) / F.lit(num_hashes)

    sup_led = (
        cand_led.join(sig_n, "_n")
        .join(sig_l, "_l")
        .filter(_est("_n_", "_l_") >= threshold)
        .select(F.col("_n").alias(id_col))
        .distinct()
    )
    cand_in = lsh_candidate_pairs(
        sigs,
        id_col=id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    sig_a = sigs.select(F.col(id_col).alias("a"), *[F.col(c).alias(f"_a_{c}") for c in mh])
    sig_b = sigs.select(F.col(id_col).alias("b"), *[F.col(c).alias(f"_b_{c}") for c in mh])
    drop_in = (
        cand_in.join(sig_a, "a")
        .join(sig_b, "b")
        .filter(_est("_a_", "_b_") >= threshold)
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    suppressed = sup_led.unionByName(drop_in).distinct()
    fresh = new_docs.join(suppressed, id_col, "left_anti")
    fresh_sigs = sigs.join(fresh.select(id_col), id_col, "left_semi")
    return fresh, fresh_sigs
