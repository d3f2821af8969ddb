"""Text-analysis + deduplication queries over the ``documents`` table
(scale extensions per BASELINE.json; operators live in
nexgap_spark.operators.{text,dedup}).

Every oracle reproduces the operator's exact arithmetic in DuckDB SQL —
including the md5-derived portable hashes — so the value-hash compare is
meaningful, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexgap_spark.operators import dedup, text
from nexgap_spark.plans.registry import query
from nexgap_spark.session import load_table as t, materialize, wide_table as tw

# Shared SQL fragments (tokenization must match operators.text.tokenize).
_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_HEXINT = "('0x' || substr(md5({expr}), 1, 8))::BIGINT"
_SHINGLES3 = (
    "CASE WHEN len(t) >= 3 THEN "
    "[t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] "
    "ELSE [] END"
)


# ---------------------------------------------------------------------------
# q24 — corpus stats per language (token counting / doc statistics).
# ---------------------------------------------------------------------------


@query(
    "q24_text_stats",
    oracle=f"""
    WITH toks AS (SELECT lang, n_chars, {_TOKS} AS t FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(len(t) AS DOUBLE)), 6) AS avg_tokens,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
           CAST(MAX(len(t)) AS INT) AS max_tokens
    FROM toks
    GROUP BY lang
    """,
)
def q24_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tw(spark, sf_dir, "documents")
    n_tokens = F.size(text.tokenize("text"))
    return (
        docs.select("lang", "n_chars", n_tokens.alias("nt"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
            F.round(F.avg(F.col("nt").cast("double")), 6).alias("avg_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
            F.max("nt").cast("int").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q25 — per-document quality features (pre-training filter set).
# ---------------------------------------------------------------------------

_SW_LIST = "', '".join(text.DEFAULT_STOPWORDS)


@query(
    "q25_quality_features",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS INT) AS n_tokens,
           ROUND(list_aggregate(list_transform(t, x -> CAST(length(x) AS DOUBLE)), 'sum')
                 / GREATEST(len(t), 1), 6) AS avg_token_len,
           ROUND(CAST(len(list_filter(t, x -> list_contains(['{_SW_LIST}'], x))) AS DOUBLE)
                 / GREATEST(len(t), 1), 6) AS stopword_ratio,
           (len(t) >= 10 AND len(t) <= 100000
            AND len(list_filter(t, x -> list_contains(['{_SW_LIST}'], x))) > 0) AS quality_ok
    FROM toks
    """,
)
def q25_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tw(spark, sf_dir, "documents")
    feat = text.quality_features(docs)
    return feat.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        "quality_ok",
    )


# ---------------------------------------------------------------------------
# q26 — language-ID heuristic (marker lexicon argmax, deterministic ties).
# ---------------------------------------------------------------------------


def _langid_oracle() -> str:
    # mirror operators/text.language_id exactly: token equality for
    # space-delimited languages, substring occurrence for CJK marker sets,
    # 'und' when the best score is zero
    unions = []
    for lang in sorted(text.LANG_MARKERS):
        ms = text.LANG_MARKERS[lang]
        if all(ord(m[0]) > 0x2E80 for m in ms):
            expr = " + ".join(
                f"(len(text) - len(replace(text, '{m}', '')))" for m in ms
            )
            unions.append(
                f"SELECT doc_id, lang, '{lang}' AS cand, {expr} AS hits FROM toks"
            )
        else:
            markers = "', '".join(ms)
            unions.append(
                f"SELECT doc_id, lang, '{lang}' AS cand, "
                f"len(list_filter(t, x -> list_contains(['{markers}'], x))) AS hits FROM toks"
            )
    u = "\n      UNION ALL\n      ".join(unions)
    return f"""
    WITH toks AS (SELECT doc_id, lang, text, {_TOKS} AS t FROM documents),
    scores AS (
      {u}
    ),
    ranked AS (
      SELECT doc_id, lang, cand, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand) AS rn
      FROM scores
    )
    SELECT doc_id, lang,
           CASE WHEN hits = 0 THEN 'und' ELSE cand END AS pred_lang,
           CAST(hits AS INT) AS pred_hits,
           (CASE WHEN hits = 0 THEN 'und' ELSE cand END = lang) AS lang_match
    FROM ranked WHERE rn = 1
    """


@query("q26_language_id", oracle=_langid_oracle())
def q26_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tw(spark, sf_dir, "documents")
    pred = text.language_id(docs)
    return pred.select(
        "doc_id",
        "lang",
        "pred_lang",
        F.col("pred_lang_hits").cast("int").alias("pred_hits"),
        (F.col("pred_lang") == F.col("lang")).alias("lang_match"),
    )


# ---------------------------------------------------------------------------
# q27 — exact-dedup summary (hash-groupBy dedup; shuffle carries digests).
# ---------------------------------------------------------------------------


@query(
    "q27_exact_dedup_stats",
    oracle=f"""
    WITH groups AS (
      SELECT md5({_NORM}) AS h, COUNT(*) AS c FROM documents GROUP BY 1
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
           COUNT(*) AS n_distinct,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
           CAST(MAX(c) AS BIGINT) AS max_group_size
    FROM groups
    """,
)
def q27_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return dedup.dup_stats(docs)


# ---------------------------------------------------------------------------
# q28 — document fingerprint (min-md5 over 3-gram shingles of normalized
# text; winnowing-style).
# ---------------------------------------------------------------------------


@query(
    "q28_doc_fingerprints",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
    toks AS (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM norm)
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN list_aggregate(
                       [md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        for i in range(1, len(t) - 1)], 'min')
                ELSE md5(nt) END AS fingerprint
    FROM toks
    """,
)
def q28_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tw(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# baseline_q29 — n-gram Jaccard near-dup: top-20 most-similar pairs
# (all-pairs baseline; the LSH path is q30/q31).
#
# SCALE BOUNDARY / BASELINE NAMESPACE (r14): the shingle self-join is the
# declared quadratic-in-shared-shingle all-pairs BASELINE — exact, but its
# pair stage grows with the square of co-shingled documents. It exists to
# cross-check the MinHash+LSH twins (q30 signatures, q31 banded pairs),
# whose banded equi-join bounds the candidate set per bucket — q31 IS the
# scale path and the headline row. The `baseline_` prefix segregates this
# query from every scale-claimed total: bench.py reports baselines in
# their own section, the full-catalog sweep excludes them from the
# headline comparable sums, and the catalog orders them after every
# non-window query (r14's window slot is deliberate: an external
# hash-green row under the new name).
# ---------------------------------------------------------------------------


@query(
    "baseline_q29_ngram_jaccard_topk",
    baseline=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks, UNNEST({_SHINGLES3}) AS u(s)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b, CAST(common AS BIGINT) AS common,
           ROUND(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.a = sa.doc_id
    JOIN sizes sb ON pairs.b = sb.doc_id
    ORDER BY jaccard DESC, a, b
    LIMIT 20
    """,
)
def baseline_q29_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return (
        pairs.select(
            "a",
            "b",
            F.col("common").cast("long").alias("common"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q30 — MinHash signatures (8 portable affine hashes over 3-gram shingles).
# ---------------------------------------------------------------------------


def _minhash_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN((hv * {a} + {b}) % {dedup.MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(dedup.MINHASH_PARAMS)
    )
    sig = " || '-' || ".join(f"mh{j}::VARCHAR" for j in range(8))
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks, UNNEST({_SHINGLES3}) AS u(s)
    ),
    h AS (SELECT doc_id, {_HEXINT.format(expr='s')} AS hv FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, {sig} AS signature FROM sig
    """


@query("q30_minhash_signatures", oracle=_minhash_oracle())
def q30_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # distinct=False: MIN-based signatures are duplicate-insensitive, and
    # the distinct was the query's most expensive exchange (bisected r9)
    sh = dedup.shingle_table(docs, distinct=False)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    sig_str = F.concat_ws("-", *[F.col(f"mh{j}").cast("string") for j in range(8)])
    return sigs.select("doc_id", sig_str.alias("signature"))


# ---------------------------------------------------------------------------
# q31 — MinHash-LSH candidate pairs + exact-Jaccard verification summary
# (the 100 TB near-dup path: banding join instead of all-pairs).
# ---------------------------------------------------------------------------


def _lsh_jac_ctes(source: str = "documents") -> str:
    """Shared CTE chain (tokens → shingles → minhash → LSH buckets →
    candidate pairs → exact Jaccard) used by the q31 summary, the q43
    connected-components oracle, and (with ``source`` pointing at an
    upstream CTE) q118's composed-pipeline oracle."""
    mins = ",\n             ".join(
        f"MIN((hv * {a} + {b}) % {dedup.MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(dedup.MINHASH_PARAMS)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, md5(mh{2 * b}::VARCHAR || '-' || mh{2 * b + 1}::VARCHAR) AS bucket FROM sig"
        for b in range(4)
    )
    return f"""toks AS (SELECT doc_id, {_TOKS} AS t FROM {source}),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks, UNNEST({_SHINGLES3}) AS u(s)
    ),
    h AS (SELECT doc_id, {_HEXINT.format(expr='s')} AS hv FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    buckets AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM buckets x JOIN buckets y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    verified AS (
      SELECT cand.a, cand.b, COUNT(*) AS common
      FROM cand
      JOIN sh x ON x.doc_id = cand.a
      JOIN sh y ON y.doc_id = cand.b AND y.s = x.s
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT v.a, v.b, CAST(v.common AS DOUBLE) / (sa.sz + sb.sz - v.common) AS j
      FROM verified v
      JOIN sizes sa ON v.a = sa.doc_id
      JOIN sizes sb ON v.b = sb.doc_id
    )"""


def _lsh_oracle() -> str:
    return f"""
    WITH {_lsh_jac_ctes()}
    SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
           CAST(COALESCE(SUM(CASE WHEN j >= 0.2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_near_dups,
           ROUND(COALESCE(MAX(j), 0.0), 6) AS max_jaccard
    FROM jac
    """


@query("q31_minhash_lsh_pairs", oracle=_lsh_oracle())
def q31_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # share one shingle pass across the signature path and verify_jaccard's
    # three consumers, size-gated (r17): above the input-size gate the
    # distinct table is materialized once (the lazy plan otherwise runs
    # the scan+tokenize+explode pipeline once per consumer — before-plan:
    # 8 scans, 2 independent explode chains); below it the checkpoint
    # barrier costs more than the duplicated subtree. Rationale and the
    # measured crossover live on dedup.shared_shingles.
    sh = dedup.shared_shingles(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    jac = dedup.verify_jaccard(cand, sh)
    return jac.agg(
        F.count("*").alias("n_candidates"),
        F.coalesce(F.sum((F.col("jaccard") >= 0.2).cast("long")), F.lit(0)).alias(
            "n_near_dups"
        ),
        F.round(F.coalesce(F.max("jaccard"), F.lit(0.0)), 6).alias("max_jaccard"),
    )


# ---------------------------------------------------------------------------
# q32 — SimHash fingerprints (32-bit, TF-weighted token hashes).
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(32)
    )
    fp = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ex AS (SELECT doc_id, {_HEXINT.format(expr='u.tok')} AS hv
           FROM toks, UNNEST(t) AS u(tok)),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


@query("q32_simhash", oracle=_simhash_oracle())
def q32_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=32)


# ---------------------------------------------------------------------------
# q33 — multimodal binary plumbing: documents as opaque binary payloads with
# typed metadata (octet length + sha256 digest). The decode/feature-extract
# path for real image/audio bytes is in operators.multimodal (stubbed UDFs,
# tested schema/batch plumbing).
# ---------------------------------------------------------------------------


@query(
    "q33_binary_payloads",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           sha256(text) AS digest,
           CASE WHEN octet_length(CAST(text AS BLOB)) > 300 THEN 'large'
                ELSE 'small' END AS size_class
    FROM documents
    """,
)
def q33_binary_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.sha2("text", 256).alias("digest"),
        F.when(F.octet_length(payload) > 300, "large")
        .otherwise("small")
        .alias("size_class"),
    )


# ---------------------------------------------------------------------------
# q43 — near-duplicate GROUPS: connected components over the verified LSH
# pair graph (dedup.dup_groups: large-star/small-star, one materialize per
# round with its change count observed in the same action; oracle =
# recursive CTE reachability). The cluster-then-keep-one shape every
# large-scale dedup pipeline ends with.
# ---------------------------------------------------------------------------


def _dup_groups_oracle() -> str:
    return f"""
    WITH RECURSIVE {_lsh_jac_ctes()},
    near AS (SELECT a, b FROM jac WHERE j >= 0.2),
    und AS (SELECT a AS n, b AS m FROM near UNION ALL SELECT b AS n, a AS m FROM near),
    nodes AS (SELECT DISTINCT n FROM und),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.n, r.m FROM und u JOIN reach r ON u.m = r.n
    )
    SELECT n AS doc_id, MIN(m) AS group_id FROM reach GROUP BY n
    """


@query("q43_dup_groups", oracle=_dup_groups_oracle())
def q43_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # size-gated shared shingle pass — rationale at q31 (r17)
    sh = dedup.shared_shingles(docs)
    near = dedup.near_dup_pairs(sh)
    groups = dedup.dup_groups(near)
    return groups.select(F.col("n").alias("doc_id"), "group_id")


# ---------------------------------------------------------------------------
# q44 — corpus dedup END PRODUCT: drop every non-canonical member of a
# near-dup group (canonical = smallest doc_id in its connected component),
# keeping group_size as the provenance of how much was removed. This is the
# query a 100 TB training-data pipeline actually ships: q31 finds pairs,
# q43 clusters them, q44 emits the deduplicated corpus.
# ---------------------------------------------------------------------------


def _dedup_corpus_oracle() -> str:
    return f"""
    WITH RECURSIVE {_lsh_jac_ctes()},
    near AS (SELECT a, b FROM jac WHERE j >= 0.2),
    und AS (SELECT a AS n, b AS m FROM near UNION ALL SELECT b AS n, a AS m FROM near),
    nodes AS (SELECT DISTINCT n FROM und),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.n, r.m FROM und u JOIN reach r ON u.m = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS group_id FROM reach GROUP BY n),
    gsizes AS (SELECT group_id, COUNT(*) AS group_size FROM comp GROUP BY group_id)
    SELECT d.doc_id, CAST(COALESCE(s.group_size, 1) AS BIGINT) AS group_size
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
    LEFT JOIN gsizes s ON c.group_id = s.group_id
    WHERE c.doc_id IS NULL OR c.group_id = d.doc_id
    """


@query("q44_dedup_corpus", oracle=_dedup_corpus_oracle())
def q44_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # size-gated shared shingle pass — rationale at q31 (r17)
    sh = dedup.shared_shingles(docs)
    near = dedup.near_dup_pairs(sh)
    groups = dedup.dup_groups(near).select(
        F.col("n").alias("doc_id"), "group_id"
    )
    sizes = groups.groupBy("group_id").agg(F.count("*").alias("group_size"))
    membership = groups.join(sizes, "group_id")
    return dedup.dedup_corpus_join(docs, membership)


# ---------------------------------------------------------------------------
# q59 — corpus term frequencies, top 20 (operators.text.term_counts). The
# Zipf head makes the post-explode shuffle tiny after map-side combine; the
# top-k is a TakeOrderedAndProject, not a global sort.
# ---------------------------------------------------------------------------


@query(
    "q59_top_terms",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS term FROM documents)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks WHERE len(term) > 0
    GROUP BY term
    ORDER BY cnt DESC, term
    LIMIT 20
    """,
)
def q59_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tw(spark, sf_dir, "documents")
    counts = text.term_counts(docs, text_col="text")
    return counts.orderBy(F.col("cnt").desc(), F.col("term")).limit(20)


# ---------------------------------------------------------------------------
# q60 — per-language length z-scores, top outliers (operators.text.
# length_zscore): the corpus-quality filter shape (drop docs whose length is
# anomalous for their language). Moments via groupBy + broadcast join back —
# no window over the full corpus.
# ---------------------------------------------------------------------------


@query(
    "q60_length_zscore",
    oracle="""
    WITH stats AS (
      SELECT lang, AVG(n_chars) AS mu, STDDEV_SAMP(n_chars) AS sd
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           ROUND((d.n_chars - s.mu) / s.sd, 4) AS z
    FROM documents d JOIN stats s ON d.lang = s.lang
    ORDER BY ABS((d.n_chars - s.mu) / s.sd) DESC, d.doc_id
    LIMIT 15
    """,
)
def q60_length_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    z = text.length_zscore(docs, group_col="lang", value_col="n_chars")
    return (
        z.orderBy(F.abs(F.col("z")).desc(), F.col("doc_id"))
        .limit(15)
        .select("doc_id", "lang", "n_chars", F.round("z", 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# q62 — TF-IDF top terms per document (operators.text.tfidf): the classic
# relevance-feature shape. Document frequency is vocabulary-sized →
# broadcast; corpus count is a broadcast 1-row cross join; the per-doc
# top-3 is a rank window partitioned by doc (WindowGroupLimit prunes state).
# ---------------------------------------------------------------------------


@query(
    "q62_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE len(term) > 0 GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, ROUND(score, 6) AS score
    FROM ranked WHERE rk <= 3
    """,
)
def q62_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = tw(spark, sf_dir, "documents")
    scored = text.tfidf(docs)
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# q98 — quality-aware dedup representative (round 6): keep the highest-
# quality member of each dup group (lowest id tiebreak), singletons pass
# through. Membership synthesized deterministically (groups of ≤5 by id
# range; docs with doc_id % 17 == 0 stay ungrouped), quality = text length.
# ---------------------------------------------------------------------------


@query(
    "q98_keep_best_per_group",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, doc_id - doc_id % 5 AS group_id FROM documents WHERE doc_id % 17 <> 0
    ),
    j AS (
      SELECT d.doc_id, length(d.text) AS q, m.group_id
      FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
    ),
    w AS (
      SELECT group_id, doc_id, q,
             ROW_NUMBER() OVER (
               PARTITION BY group_id
               ORDER BY COALESCE(q, -1e308) DESC, doc_id ASC
             ) AS rn
      FROM j WHERE group_id IS NOT NULL
    ),
    keep AS (
      SELECT doc_id, q FROM w WHERE rn = 1
      UNION ALL
      SELECT doc_id, q FROM j WHERE group_id IS NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(COALESCE(q, 0)) AS BIGINT) AS sum_quality
    FROM keep
    """,
)
def q98_keep_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").withColumn("quality", F.length("text"))
    membership = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 5).alias("group_id")
    )
    kept = dedup.keep_best_per_group(docs, membership)
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.coalesce(F.col("quality"), F.lit(0))).cast("long").alias("sum_quality"),
    )


# ---------------------------------------------------------------------------
# q99 — incremental exact dedup (round 6): dedupe a new batch against a
# processed-digest ledger (prior corpus = docs with doc_id % 3 == 0), the
# batch-by-batch growth path of a 100 TB corpus.
# ---------------------------------------------------------------------------


@query(
    "q99_incremental_dedup",
    oracle=f"""
    WITH h AS (SELECT doc_id, md5({_NORM}) AS h FROM documents),
    seen AS (SELECT DISTINCT h FROM h WHERE doc_id % 3 = 0 AND h IS NOT NULL),
    rep AS (
      SELECT h, MIN(doc_id) AS doc_id FROM h WHERE h IS NOT NULL GROUP BY h
      UNION ALL
      SELECT NULL AS h, doc_id FROM h WHERE h IS NULL
    ),
    fresh AS (
      SELECT r.h, r.doc_id FROM rep r LEFT JOIN seen s ON r.h = s.h WHERE s.h IS NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fresh,
           CAST(SUM(doc_id) AS BIGINT) AS sum_fresh_ids,
           CAST(COUNT(h) AS BIGINT) AS n_new_digests
    FROM fresh
    """,
)
def q99_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5(dedup.normalize_text("text")).alias("digest"))
        .filter(F.col("digest").isNotNull())
        .distinct()
    )
    fresh, new_digests = dedup.incremental_exact(docs, seen)
    stats = fresh.agg(
        F.count("*").alias("n_fresh"), F.sum("doc_id").alias("sum_fresh_ids")
    )
    return stats.crossJoin(  # 1-row agg × 1-row agg
        new_digests.agg(F.count("*").alias("n_new_digests"))
    )


# ---------------------------------------------------------------------------
# q100 — incremental NEAR-dup dedup against a signature ledger: the fuzzy
# twin of q99. The "archive" is documents with doc_id % 3 != 0 — only its
# SIGNATURES survive as the ledger — and the "batch" (doc_id % 3 == 0) is
# near-deduped against both the ledger and itself via LSH banding + the
# k-component Jaccard estimate. Output: the fresh batch doc ids.
# ---------------------------------------------------------------------------


def _incr_minhash_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN((hv * {a} + {b}) % {dedup.MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(dedup.MINHASH_PARAMS)
    )

    def _bands(src: str) -> str:
        return "\n      UNION ALL\n      ".join(
            f"SELECT doc_id, {b} AS band, md5(mh{2 * b}::VARCHAR || '-' || "
            f"mh{2 * b + 1}::VARCHAR) AS bucket FROM {src}"
            for b in range(4)
        )

    est = "(" + " + ".join(
        f"CASE WHEN sn.mh{j} = sl.mh{j} THEN 1 ELSE 0 END" for j in range(8)
    ) + ") / 8.0"
    est_in = "(" + " + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(8)
    ) + ") / 8.0"
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM toks, UNNEST({_SHINGLES3}) AS u(s)
    ),
    h AS (SELECT doc_id, {_HEXINT.format(expr='s')} AS hv FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    sig_b AS (SELECT * FROM sig WHERE doc_id % 3 = 0),
    sig_c AS (SELECT * FROM sig WHERE doc_id % 3 <> 0),
    bb_b AS (
      {_bands('sig_b')}
    ),
    bb_c AS (
      {_bands('sig_c')}
    ),
    cand_led AS (
      SELECT DISTINCT n.doc_id AS nid, l.doc_id AS lid
      FROM bb_b n JOIN bb_c l ON n.band = l.band AND n.bucket = l.bucket
    ),
    sup_led AS (
      SELECT DISTINCT nid FROM cand_led
      JOIN sig_b sn ON sn.doc_id = nid
      JOIN sig_c sl ON sl.doc_id = lid
      WHERE {est} >= 0.5
    ),
    cand_in AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bb_b x JOIN bb_b y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    drop_in AS (
      SELECT DISTINCT b FROM cand_in
      JOIN sig_b sa ON sa.doc_id = cand_in.a
      JOIN sig_b sb ON sb.doc_id = cand_in.b
      WHERE {est_in} >= 0.5
    )
    SELECT doc_id FROM documents
    WHERE doc_id % 3 = 0
      AND doc_id NOT IN (SELECT nid FROM sup_led)
      AND doc_id NOT IN (SELECT b FROM drop_in)
    ORDER BY doc_id
    """


@query("q100_incremental_minhash", oracle=_incr_minhash_oracle())
def q100_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    archive = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # materialize the synthesized ledger (r17): incremental_minhash reads
    # its seen_sigs twice (band rows + the estimator's sig_l), and here the
    # ledger's lineage is a full shingle+MIN pipeline — in production the
    # ledger is a parquet table, where the second read is a cheap re-scan.
    ledger = materialize(
        dedup.minhash_signatures(dedup.shingle_table(archive, distinct=False))
    )
    # cap pinned to None: the oracle models the UNCAPPED candidate set, so
    # the contract stays exact at ANY scale factor (q45's documented
    # precedent); production callers keep the scale-guard default
    fresh, _sigs = dedup.incremental_minhash(batch, ledger, max_bucket_size=None)
    return fresh.select("doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# q103 — CCNet-style bigram LM scoring: an add-k-smoothed bigram model is
# trained on HALF the corpus (doc_id % 2 == 0) and every doc scored by
# its mean bigram log-probability — the distributional quality signal a
# perplexity filter thresholds on. The held-out half exercises the
# unseen-bigram/unseen-context smoothing paths.
# ---------------------------------------------------------------------------


@query(
    "q103_ngram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (
      SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
      FROM toks, UNNEST(
        CASE WHEN len(t) >= 2
             THEN [[t[i], t[i+1]] for i in range(1, len(t))]
             ELSE [] END) AS u(p)
    ),
    tbig AS (SELECT * FROM big WHERE doc_id % 2 = 0),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tbig GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM tbig GROUP BY 1),
    vcnt AS (
      SELECT COUNT(*) AS v FROM (SELECT w1 AS w FROM tbig UNION SELECT w2 FROM tbig)
    ),
    sc AS (
      SELECT b.doc_id, COUNT(*) AS n_bigrams,
             AVG(ln((COALESCE(c2.c2, 0) + 0.5)
                    / (COALESCE(c1.c1, 0) + 0.5 * (SELECT v FROM vcnt)))) AS lp
      FROM big b
      LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      LEFT JOIN c1 ON b.w1 = c1.w1
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(sc.lp, 6) AS avg_logprob
    FROM documents d LEFT JOIN sc USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q103_ngram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tw(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    out = text.ngram_logprob(docs, train)
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("avg_logprob", 6).alias("avg_logprob"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q116 — leakage-safe train/val/test split: the dedup stack's END USE in a
# training pipeline. Splits hash the near-dup GROUP id (q43's connected
# components), so no near-duplicate of a held-out document can land in
# train; singletons hash their own id and split exactly as q72 does. The
# oracle replays the full chain (shingle → minhash → LSH → Jaccard →
# recursive components → group-keyed md5 bucketing) in SQL.
# ---------------------------------------------------------------------------

_Q116_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _leakage_split_oracle() -> str:
    from nexgap_spark.operators import curation as _cur

    cut = _cur.split_cut_sql(_Q116_WEIGHTS, "k")
    return f"""
    WITH RECURSIVE {_lsh_jac_ctes()},
    near AS (SELECT a, b FROM jac WHERE j >= 0.2),
    und AS (SELECT a AS n, b AS m FROM near UNION ALL SELECT b AS n, a AS m FROM near),
    nodes AS (SELECT DISTINCT n FROM und),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.n, r.m FROM und u JOIN reach r ON u.m = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS group_id FROM reach GROUP BY n),
    eff AS (
      SELECT d.doc_id, d.n_chars, c.group_id,
             COALESCE(c.group_id, d.doc_id) AS k
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT {cut} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(group_id) AS BIGINT) AS n_clustered_docs,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM eff GROUP BY 1
    """


@query("q116_leakage_safe_split", oracle=_leakage_split_oracle())
def q116_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators import curation

    docs = t(spark, sf_dir, "documents")
    # size-gated shared shingle pass — rationale at q31 (r17)
    sh = dedup.shared_shingles(docs)
    near = dedup.near_dup_pairs(sh)
    groups = dedup.dup_groups(near).select(F.col("n").alias("doc_id"), "group_id")
    assigned = curation.leakage_safe_split(docs, groups, weights=_Q116_WEIGHTS)
    eff = F.coalesce(F.col("group_id"), F.col("doc_id"))
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count("group_id").cast("long").alias("n_clustered_docs"),
        F.count_distinct(eff).alias("n_keys"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
