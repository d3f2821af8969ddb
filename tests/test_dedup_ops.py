"""Dedup operators on planted duplicates: exact, MinHash-LSH end-to-end,
SimHash proximity, n-gram Jaccard."""

from __future__ import annotations

import pytest

from nexgap_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun with great interest"
)
NEAR = BASE.replace("afternoon", "evening")  # one-token edit → high Jaccard
FAR = (
    "completely different content about distributed query engines and "
    "columnar execution with vectorized operators and shuffle planning"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, "  " + BASE.upper() + "  "),  # normalized dup of 1
        (4, NEAR),  # near dup of 1
        (5, FAR),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = {r.doc_id for r in dedup.exact_dedup(docs).collect()}
    # 1,2,3 collapse to one digest (lower+trim+collapse); 4 and 5 survive
    assert kept == {1, 4, 5}


def test_dup_stats(docs):
    s = dedup.dup_stats(docs).first()
    assert s.n_docs == 5 and s.n_distinct == 3
    assert s.n_dup_groups == 1 and s.max_group_size == 3


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (1, 2) in got and (1, 4) in got
    assert not any(5 in p for p in got)


def test_minhash_dedup_end_to_end(docs):
    kept = {r.doc_id for r in dedup.minhash_dedup(docs, threshold=0.5).collect()}
    # 2,3,4 are near/exact dups of 1 → dropped (higher id of each pair)
    assert 1 in kept and 5 in kept
    assert 2 not in kept and 3 not in kept
    assert 4 not in kept  # one-token edit caught by LSH + verify


def test_simhash_proximity(docs):
    fps = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert fps[1] == fps[2]
    assert hamming(fps[1], fps[4]) < hamming(fps[1], fps[5])
    assert hamming(fps[1], fps[4]) <= 6


def test_minhash_signature_shape(docs):
    sh = dedup.shingle_table(docs)
    sigs = dedup.minhash_signatures(sh)
    row = sigs.first()
    assert all(hasattr(row, f"mh{j}") for j in range(8))
    assert sigs.count() == 5


def test_lsh_mega_bucket_cap(spark):
    # 1000 identical docs land in ONE (band, bucket) per band — uncapped
    # that is ~500k candidate pairs; the cap must bound the output without
    # touching well-behaved buckets.
    boiler = [(i, BASE) for i in range(1000)]
    distinct = [(2000, NEAR), (2001, NEAR), (2002, FAR)]
    df = spark.createDataFrame(boiler + distinct, "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.shingle_table(df), num_hashes=8)

    capped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=100).collect()
    # the boilerplate cluster is dropped entirely; the two NEAR docs (and
    # their cross-pairs with nothing else) survive in sane buckets
    pairs = {(r.a, r.b) for r in capped}
    assert (2000, 2001) in pairs
    assert all(a >= 2000 and b >= 2000 for a, b in pairs)
    assert len(pairs) < 100

    uncapped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=None)
    assert uncapped.count() > 400_000  # the blow-up the cap prevents


def test_lsh_cap_default_keeps_small_corpus_intact(docs):
    sh = dedup.shingle_table(docs)
    sigs = dedup.minhash_signatures(sh)
    with_cap = {(r.a, r.b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    no_cap = {
        (r.a, r.b)
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket_size=None).collect()
    }
    assert with_cap == no_cap


def test_lsh_salt_mode_bounds_pairs_keeps_recall(spark):
    # salt mode: oversized buckets pair within hash sub-buckets — bounded by
    # size*cap instead of size^2, and within-sub-bucket pairs survive
    boiler = [(i, BASE) for i in range(1000)]
    df = spark.createDataFrame(boiler, "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.shingle_table(df), num_hashes=8)

    salted = dedup.lsh_candidate_pairs(
        sigs, max_bucket_size=100, oversized="salt"
    )
    n = salted.count()
    # 10 sub-buckets of ~100 docs → ~10 * C(100,2) ≈ 50k pairs, far under
    # the ~500k uncapped blow-up but far above the zero pairs "drop" leaves
    assert 10_000 < n < 120_000

    with pytest.raises(ValueError):
        dedup.lsh_candidate_pairs(sigs, oversized="nope")


def test_capped_lsh_twice_in_one_plan(spark, docs):
    # two capped pairings composed lazily must not collide on the observe
    # metric name
    sigs = dedup.minhash_signatures(dedup.shingle_table(docs))
    a = dedup.lsh_candidate_pairs(sigs, max_bucket_size=100)
    b = dedup.lsh_candidate_pairs(sigs, max_bucket_size=100)
    assert a.unionByName(b).count() == a.count() * 2


def test_keep_best_per_group(spark):
    from nexgap_spark.operators.dedup import keep_best_per_group

    docs = spark.createDataFrame(
        [
            (1, "short", 5), (2, "longer text", 11), (3, "mid", 7),   # group A
            (4, None, None), (5, "x", 1),                             # group B (4: null quality)
            (9, "solo", 4),                                           # ungrouped
        ],
        "doc_id long, text string, quality long",
    )
    membership = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200)],
        "doc_id long, group_id long",
    )
    kept = {r.doc_id for r in keep_best_per_group(docs, membership).collect()}
    # group A: highest quality (11) wins; group B: null quality never beats
    # a scored sibling; ungrouped passes through
    assert kept == {2, 5, 9}

    # tie on quality → lowest id wins (determinism)
    docs2 = spark.createDataFrame(
        [(7, "a", 3), (6, "b", 3)], "doc_id long, text string, quality long"
    )
    m2 = spark.createDataFrame([(6, 1), (7, 1)], "doc_id long, group_id long")
    assert {r.doc_id for r in keep_best_per_group(docs2, m2).collect()} == {6}

    # all-null-quality group → lowest id wins
    docs3 = spark.createDataFrame(
        [(8, "a", None), (4, "b", None)], "doc_id long, text string, quality long"
    )
    m3 = spark.createDataFrame([(4, 1), (8, 1)], "doc_id long, group_id long")
    assert {r.doc_id for r in keep_best_per_group(docs3, m3).collect()} == {4}

    # NaN quality (failed scorer) must NOT beat a scored sibling — Spark
    # orders NaN above every real double, so an unguarded struct-argmax
    # would pick the garbage-scored doc
    docs4 = spark.createDataFrame(
        [(10, "a", float("nan")), (11, "b", 0.2)],
        "doc_id long, text string, quality double",
    )
    m4 = spark.createDataFrame([(10, 1), (11, 1)], "doc_id long, group_id long")
    assert {r.doc_id for r in keep_best_per_group(docs4, m4).collect()} == {11}

    # string/UUID doc ids: the tiebreak must not negate the id column
    docs5 = spark.createDataFrame(
        [("b-uuid", "x", 3.0), ("a-uuid", "y", 3.0), ("c-uuid", "z", 9.0)],
        "doc_id string, text string, quality double",
    )
    m5 = spark.createDataFrame(
        [("a-uuid", 1), ("b-uuid", 1), ("c-uuid", 2)], "doc_id string, group_id long"
    )
    assert {r.doc_id for r in keep_best_per_group(docs5, m5).collect()} == {
        "a-uuid",  # quality tie → lexicographically lowest id
        "c-uuid",
    }


def test_incremental_exact(spark):
    from nexgap_spark.operators.dedup import incremental_exact, normalize_text
    from pyspark.sql import functions as F

    batch = spark.createDataFrame(
        [
            (1, "Seen  before"),   # in the ledger (normalization collapses ws)
            (2, "brand new"),
            (3, "brand  NEW"),     # within-batch dup of 2 after normalization
            (4, None),             # NULL text: passes through, no ledger digest
            (5, None),
        ],
        "doc_id long, text string",
    )
    seen = (
        spark.createDataFrame([("seen before",)], "text string")
        .select(F.md5(normalize_text("text")).alias("digest"))
    )
    fresh, new_digests = incremental_exact(batch, seen)
    assert {r.doc_id for r in fresh.collect()} == {2, 4, 5}
    # ledger update: one digest for the 'brand new' group, none for NULLs
    assert new_digests.count() == 1

    # second pass with the updated ledger: nothing fresh but the NULLs
    ledger2 = seen.unionByName(new_digests)
    fresh2, nd2 = incremental_exact(batch, ledger2)
    assert {r.doc_id for r in fresh2.collect()} == {4, 5}
    assert nd2.count() == 0


def test_incremental_exact_null_ids(spark):
    # NULL-id rows must pass through (not be dropped while their digest is
    # still ledgered — that would permanently suppress the content): the
    # semi-join back to the batch runs on the never-NULL (_bk, _rid) pair
    from pyspark.sql import functions as F

    from nexgap_spark.operators.dedup import incremental_exact

    batch = spark.createDataFrame(
        [
            (None, "only null-id content"),   # NULL id, unseen text
            (None, None),                     # NULL id AND NULL text
            (7, "normal row"),
        ],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame([], "digest string")
    fresh, new_digests = incremental_exact(batch, seen)
    got = [(r.doc_id, r.text) for r in fresh.collect()]
    assert (None, "only null-id content") in got
    assert (None, None) in got
    assert (7, "normal row") in got
    assert len(got) == 3
    # ledger gets digests only for rows that were actually emitted, and
    # none for NULL text
    assert new_digests.count() == 2

    # second pass: the null-TEXT row still passes (no equality semantics),
    # but the null-ID row's content is now in the ledger → suppressed
    ledger2 = seen.unionByName(new_digests)
    fresh2, _ = incremental_exact(batch, ledger2)
    got2 = [(r.doc_id, r.text) for r in fresh2.collect()]
    assert got2 == [(None, None)]


def test_incremental_minhash(spark):
    # fuzzy twin of incremental_exact: batch near-deduped against a
    # signature-only ledger (archive text is gone) and within itself
    from nexgap_spark.operators.dedup import (
        incremental_minhash,
        minhash_signatures,
        shingle_table,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    archive = spark.createDataFrame(
        [(100, base), (101, "completely different archived content here today")],
        "doc_id long, text string",
    )
    ledger = minhash_signatures(shingle_table(archive))
    batch = spark.createDataFrame(
        [
            (1, base),                                   # exact dup of archived 100
            (2, "unrelated brand new document about spark engines"),
            (3, "unrelated brand new document about spark engines"),  # in-batch dup of 2
            (4, None),                                    # NULL text: passes
            (5, "tiny"),                                  # too short to shingle: passes
        ],
        "doc_id long, text string",
    )
    fresh, fresh_sigs = incremental_minhash(batch, ledger)
    ids = {r.doc_id for r in fresh.collect()}
    # 1 suppressed by ledger; 3 dropped as in-batch dup of 2 (min id wins);
    # 4/5 unshingleable → pass through
    assert ids == {2, 4, 5}
    # ledger update: signatures only for emitted, shingleable docs
    assert {r.doc_id for r in fresh_sigs.collect()} == {2}

    # second pass with the grown ledger: 2's twin (3) now suppressed by the
    # LEDGER as well, and 2 itself is suppressed (its sig is archived)
    ledger2 = ledger.unionByName(fresh_sigs)
    fresh2, _ = incremental_minhash(batch, ledger2)
    assert {r.doc_id for r in fresh2.collect()} == {4, 5}


def test_incremental_exact_typed_min_id(spark):
    # the in-batch representative must be the TYPED min id (exact_dedup's
    # rule, and what a MIN(id) SQL oracle computes) — a lexicographic
    # string min would rank id 10 below id 2
    from nexgap_spark.operators.dedup import incremental_exact

    batch = spark.createDataFrame(
        [(10, "same text"), (2, "same text"), (9, "other")],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame([], "digest string")
    fresh, _ = incremental_exact(batch, seen)
    assert {r.doc_id for r in fresh.collect()} == {2, 9}


def test_blocked_near_dup_arrow_equals_relational(spark):
    """r13: the Arrow Gram-kernel twin must produce the SAME pair set with
    BIT-IDENTICAL cosines as the relational join path (shared sequential
    fold), including a<b-by-id ordering, NULL-block drop, and
    duplicate-id suppression."""
    import random

    from nexgap_spark.operators import similarity as sim

    rng = random.Random(13)
    rows = []
    for i in range(60):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)], f"blk{i % 3}"))
    rows.append((100, [rng.uniform(-1, 1) for _ in range(16)], None))  # NULL block
    rows.append((5, [rng.uniform(-1, 1) for _ in range(16)], "blk2"))  # duplicate id
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    # duplicate ids fan out in BOTH paths (join semantics): compare the
    # full MULTISET of (a, b, blk, cos), bit-identical cosines included
    rel = sorted(
        (r.a, r.b, r.blk, r.cos)
        for r in sim.blocked_near_dup(df, threshold=-1.0, dim=16).collect()
    )
    arw = sorted(
        (r.a, r.b, r.blk, r.cos)
        for r in sim.blocked_near_dup_arrow(df, threshold=-1.0).collect()
    )
    assert arw == rel

    # thresholded variants agree too (kernel-side pre-filter path)
    rel_t = {(r.a, r.b) for r in sim.blocked_near_dup(df, threshold=0.2, dim=16).collect()
             if r.a != 5 or r.b != 5}
    arw_t = {(r.a, r.b) for r in sim.blocked_near_dup_arrow(df, threshold=0.2).collect()}
    assert arw_t == rel_t


def test_blocked_near_dup_arrow_anchor_chunking(spark):
    """The anchor_chunk memory bound must not change the pair set."""
    from nexgap_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)], "b") for i in range(25)],
        "vec_id long, embedding array<float>, label string",
    )
    full = sorted(
        (r.a, r.b, r.cos)
        for r in sim.blocked_near_dup_arrow(df, threshold=-1.0).collect()
    )
    chunked = sorted(
        (r.a, r.b, r.cos)
        for r in sim.blocked_near_dup_arrow(df, threshold=-1.0, anchor_chunk=4).collect()
    )
    assert full == chunked and len(full) == 25 * 24 // 2


def _dup_groups_jobs(spark, pairs, group: str) -> tuple[dict, int]:
    """(node -> group_id, Spark jobs) of one dup_groups call plus its collect."""
    from nexgap_spark.operators.dedup import dup_groups

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = {r.n: r.group_id for r in dup_groups(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("schema", ["a long, b long", "a string, b string"])
def test_dup_groups_job_budget_six_chain(spark, schema):
    """A 6-chain takes 4 rounds. Every round is one materialize over two
    aggregations with its change count observed in it, so string ids cost
    the same jobs as long ids; any extra per-round barrier shows up here."""
    cast = str if schema.startswith("a string") else int
    pairs = spark.createDataFrame(
        [(cast(i), cast(i + 1)) for i in range(30, 36)], schema
    )
    got, jobs = _dup_groups_jobs(spark, pairs, f"dup_groups_budget_{cast.__name__}")
    assert set(got.values()) == {cast(30)}
    assert jobs == 13


def test_dup_groups_job_budget_stars_and_clique(spark):
    """Stars and cliques, the shape of q44's near-dup graphs: one round,
    which leaves one star per component and needs no confirming round."""
    pairs = spark.createDataFrame(
        [(7, 8), (8, 9), (7, 9), (20, 21)], "a long, b long"
    )
    got, jobs = _dup_groups_jobs(spark, pairs, "dup_groups_budget_stars")
    assert got == {7: 7, 8: 7, 9: 7, 20: 20, 21: 20}
    assert jobs == 4
