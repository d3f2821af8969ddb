"""Property tests for the temporal/packing operators: randomized inputs
hash-compared against brute-force pandas references. The oracle queries pin
one data shape; these pin the SEMANTICS — tie rules, tolerance boundaries,
gap boundaries, budget boundaries — on shapes hypothesis invents.

Spark round-trips per example are ~100 ms, so max_examples stays small and
deadline is off; the value is in the shrunk counterexamples, not volume.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from nexgap_spark.operators.curation import pack_chunks
from nexgap_spark.operators.sessionize import sessionize
from nexgap_spark.operators.temporal_join import asof_join

EPOCH = dt.datetime(2024, 1, 1)

PROP = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, offset_seconds) rows; offsets unique per key on the right side so the
# as-of winner is unambiguous (the operator's equal-ts right-row tie rule is
# storage-order-dependent by documented design — see asof_join docstring)
keys = st.integers(min_value=0, max_value=3)
offsets = st.integers(min_value=0, max_value=3600)


def _ts(off: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=off)


@st.composite
def asof_case(draw):
    left = draw(st.lists(st.tuples(keys, offsets), min_size=1, max_size=25))
    right_pairs = draw(
        st.lists(st.tuples(keys, offsets), min_size=1, max_size=25, unique=True)
    )
    tol = draw(st.one_of(st.none(), st.integers(min_value=0, max_value=1800)))
    return left, right_pairs, tol


@PROP
@given(asof_case())
def test_asof_matches_bruteforce(spark, case):
    left_rows, right_rows, tol = case
    left = spark.createDataFrame(
        [(i, k, _ts(o)) for i, (k, o) in enumerate(left_rows)],
        "lid long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k * 100_000 + o, k, _ts(o)) for (k, o) in right_rows],
        "rid long, user_id long, ts timestamp",
    )
    got = {
        r.lid: (r.rid_asof, r.ts_asof)
        for r in asof_join(
            left, right, on="user_id", tolerance_s=tol, right_cols=["rid"]
        ).collect()
    }
    assert set(got) == set(range(len(left_rows)))
    for i, (k, o) in enumerate(left_rows):
        cands = [
            (ro, rk * 100_000 + ro)
            for (rk, ro) in right_rows
            if rk == k and ro <= o and (tol is None or o - ro <= tol)
        ]
        if not cands:
            # rid NULL; matched ts NULL only when nothing matched even
            # ignoring tolerance (the operator reports the raw carried ts
            # only when it's within tolerance)
            assert got[i][0] is None, f"left row {i}: expected no match, got {got[i]}"
        else:
            best_off, best_rid = max(cands)
            assert got[i][0] == best_rid, (
                f"left row {i} (key={k}, off={o}): expected rid {best_rid}, got {got[i][0]}"
            )
            assert got[i][1] == _ts(best_off)


@PROP
@given(
    st.lists(st.tuples(keys, offsets), min_size=1, max_size=30, unique=True),
    st.integers(min_value=1, max_value=600),
)
def test_sessionize_matches_bruteforce(spark, rows, gap_s):
    df = spark.createDataFrame(
        [(i, k, _ts(o)) for i, (k, o) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp",
    )
    got = {
        r.event_id: r.session_id
        for r in sessionize(
            df, gap_minutes=gap_s / 60.0, order_tiebreak="event_id"
        ).collect()
    }
    by_key: dict[int, list[tuple[int, int]]] = {}
    for i, (k, o) in enumerate(rows):
        by_key.setdefault(k, []).append((o, i))
    for k, evs in by_key.items():
        evs.sort()
        sid = 0
        prev = None
        for o, i in evs:
            # strict >: a gap of exactly gap_s stays in-session
            if prev is None or o - prev > gap_s:
                sid += 1
            prev = o
            assert got[i] == sid, (
                f"event {i} (key={k}, off={o}, gap={gap_s}): expected session "
                f"{sid}, got {got[i]}"
            )


@PROP
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=600),
)
def test_pack_chunks_matches_bruteforce(spark, tokens, budget):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: r.chunk_id
        for r in pack_chunks(
            df, token_col="n_tokens", order_col="doc_id", budget=budget
        ).collect()
    }
    run = 0
    for i, t in enumerate(tokens):
        assert got[i] == run // budget, (
            f"doc {i} (tokens={t}, budget={budget}): expected chunk "
            f"{run // budget}, got {got[i]}"
        )
        run += t


@st.composite
def range_case(draw):
    left = draw(st.lists(st.tuples(keys, offsets), min_size=1, max_size=20))
    right = draw(st.lists(st.tuples(keys, offsets), min_size=1, max_size=20))
    window = draw(st.integers(min_value=1, max_value=1800))
    return left, right, window


@PROP
@given(range_case())
def test_range_join_matches_bruteforce(spark, case):
    from nexgap_spark.operators.temporal_join import range_join

    left_rows, right_rows, window = case
    left = spark.createDataFrame(
        [(i, k, _ts(o)) for i, (k, o) in enumerate(left_rows)],
        "lid long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(j, k, _ts(o)) for j, (k, o) in enumerate(right_rows)],
        "rid long, user_id long, ts timestamp",
    )
    got = sorted(
        (r.lid, r.rid_r)  # right-side value columns come back suffixed
        for r in range_join(left, right, on="user_id", window_s=float(window)).collect()
    )
    # right.ts in [left.ts - window, left.ts): half-open, per key
    want = sorted(
        (i, j)
        for i, (lk, lo) in enumerate(left_rows)
        for j, (rk, ro) in enumerate(right_rows)
        if lk == rk and lo - window <= ro < lo
    )
    assert got == want


def _components(edges) -> dict:
    """Union-find oracle: node -> smallest node id of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _chain(ids) -> list[tuple[int, int]]:
    return list(zip(ids, ids[1:]))


def _assert_dup_groups_match(spark, edges, schema="a long, b long") -> int:
    """dup_groups equals the union-find oracle and raises no warning;
    returns the rounds it used (read from the metric on the returned plan)."""
    import warnings

    from nexgap_spark.operators.dedup import dup_groups

    pairs = spark.createDataFrame(edges, schema)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dup_groups(pairs)
        got = {r.n: r.group_id for r in out.collect()}
    assert got == _components(edges)
    assert not [str(w.message) for w in caught if issubclass(w.category, UserWarning)]
    metrics = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        out._jdf.queryExecution().observedMetrics()
    )
    (row,) = [v for k, v in metrics.items() if k.startswith("dup_groups_rounds_")]
    return int(row.getAs("rounds_used"))


# 0..25 in a fixed shuffled order, so neighbouring ids on the chain are far
# apart
_SHUFFLED_26 = [
    17, 3, 22, 9, 0, 14, 25, 6, 11, 19, 2, 23, 8, 15, 1, 20, 12, 5, 24, 10,
    18, 4, 13, 21, 7, 16,
]


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)
        ),
        min_size=1,
        max_size=40,
    ),
    st.booleans(),
)
# no pairs at all; a string-id chain ("10" < "2": the string order is not
# the integer order, so the labels walk a different path); a 3-node path;
# a 26-node chain with its smallest id at one end (hash-min label
# propagation needed 25 rounds for it) and the same chain over shuffled ids
@example(edges=[], as_str=False)
@example(edges=_chain(range(13)), as_str=True)
@example(edges=[(1, 2), (2, 3)], as_str=False)
@example(edges=_chain(range(26)), as_str=False)
@example(edges=_chain(_SHUFFLED_26), as_str=False)
def test_dup_groups_matches_bruteforce_components(spark, edges, as_str):
    if as_str:
        edges = [(str(a), str(b)) for a, b in edges]
    schema = "a string, b string" if as_str else "a long, b long"
    _assert_dup_groups_match(spark, edges, schema)


def test_dup_groups_random_graph_matches_union_find(spark):
    """4000 random edges over 5000 ids: one component of 3184 nodes, 313 of
    them more than 20 hops from its minimum."""
    import random

    rnd = random.Random(2)
    edges = [(rnd.randrange(5000), rnd.randrange(5000)) for _ in range(4000)]
    assert _assert_dup_groups_match(spark, edges) <= 10


def test_dup_groups_long_shuffled_chain_matches_union_find(spark):
    """A 10k-node chain over shuffled ids (diameter 9999) finishes in a
    number of rounds logarithmic in its length."""
    import random

    ids = list(range(10_000))
    random.Random(3).shuffle(ids)
    assert _assert_dup_groups_match(spark, _chain(ids)) <= 20


@st.composite
def incr_minhash_case(draw):
    # small token alphabet → genuine near-dups appear; empty/short docs
    # exercise the no-signature pass-through path
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    def doc():
        return st.lists(st.sampled_from(vocab), min_size=0, max_size=8).map(" ".join)
    archive = draw(st.lists(doc(), min_size=0, max_size=6))
    batch = draw(st.lists(doc(), min_size=1, max_size=8))
    return archive, batch


@PROP
@given(incr_minhash_case())
def test_incremental_minhash_matches_bruteforce(spark, case):
    import hashlib

    from nexgap_spark.operators.dedup import (
        MINHASH_PARAMS,
        MINHASH_PRIME,
        incremental_minhash,
        minhash_signatures,
        shingle_table,
    )

    archive_texts, batch_texts = case
    archive = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(archive_texts)] or [(999, "x")],
        "doc_id long, text string",
    )
    if not archive_texts:
        archive = archive.filter("doc_id < 0")  # empty ledger
    batch = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch_texts)], "doc_id long, text string"
    )
    ledger = minhash_signatures(shingle_table(archive))
    fresh, _ = incremental_minhash(batch, ledger)
    got = {r.doc_id for r in fresh.collect()}

    # brute force: same shingles, same affine hashes, same banding
    def sig(text):
        toks = text.strip().split()
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not sh:
            return None
        hvs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh
        ]
        return tuple(
            min((h * a + b) % MINHASH_PRIME for h in hvs)
            for (a, b) in MINHASH_PARAMS[:8]
        )

    def bands(s):
        return {(b, s[2 * b], s[2 * b + 1]) for b in range(4)}

    def est(x, y):
        return sum(a == b for a, b in zip(x, y)) / 8.0

    led = {100 + i: sig(t) for i, t in enumerate(archive_texts)}
    led = {k: v for k, v in led.items() if v is not None}
    bsig = {i: sig(t) for i, t in enumerate(batch_texts)}
    suppressed = set()
    for i, s in bsig.items():
        if s is None:
            continue
        for ls in led.values():
            if bands(s) & bands(ls) and est(s, ls) >= 0.5:
                suppressed.add(i)
                break
    # the operator drops b for ANY at/over-threshold pair (a < b), whether
    # or not a itself was suppressed — mirror that exactly
    for i, s in sorted(bsig.items()):
        for j, s2 in bsig.items():
            if j <= i or s is None or s2 is None:
                continue
            if bands(s) & bands(s2) and est(s, s2) >= 0.5:
                suppressed.add(j)  # min-id survives within the pair
    want = {i for i in bsig if i not in suppressed}
    assert got == want
