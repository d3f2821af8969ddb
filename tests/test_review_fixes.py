"""Regression tests for the round-5 diff-review findings: each test pins
the exact failure scenario the review identified, so the fix can't rot.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

TS = dt.datetime


def test_convert_dispatch_keeps_generation_marker_spans(spark):
    # the dispatch path (strategy.convert without an explicit marker) must
    # not silently drop generation spans carrying the `anthropic.chat` marker
    # (the reference's public span-name constant,
    # convert_spans_to_chatcompletion.py:37)
    from nexgap_spark.operators.converter import convert_spans
    from nexgap_spark.schemas import SPAN_SCHEMA
    from tests.fixtures_spans import CONFIG_AGENTS, build_spans

    spans = []
    for s in build_spans():
        s = dict(s)
        if isinstance(s["output"], dict):
            s["output"] = [s["output"]]
        spans.append(s)
    marker_span = dict(spans[1])
    marker_span.update(
        {
            "trace_id": "trace_z",
            "span_id": "span_9001",
            "span_name": "anthropic.chat",
            "parentObservationId": None,
        }
    )
    df = spark.createDataFrame(spans + [marker_span], schema=SPAN_SCHEMA)
    out = convert_spans(df, config_agents=CONFIG_AGENTS)
    assert "span_9001" in {r.span_id for r in out.collect()}


def test_range_join_rejects_bigint_ts(spark):
    # a nanos-as-long ts column must raise, not silently produce an empty
    # join (epoch_us would reinterpret nanoseconds as seconds)
    from nexgap_spark.operators.temporal_join import range_join

    df = spark.createDataFrame([(1, 1_700_000_000_000_000_000)], "user_id long, ts long")
    with pytest.raises(TypeError, match="bigint"):
        range_join(df, df, on="user_id").collect()


def test_weighted_sample_zero_prob_key_never_picked(spark):
    # a zero-probability key trailing the CDF used to share max(cum_hi),
    # get the infinity clamp too, and double-match tail draws
    from nexgap_spark.operators.sampling import weighted_sample

    weighted = spark.createDataFrame(
        [("a", 0.6), ("b", 0.3995), ("z", 0.0)], "key string, prob double"
    )
    out = weighted_sample(weighted, n=200, key_col="key", seed=7).collect()
    assert len(out) == 200, "overlapping CDF intervals multiplied tail draws"
    picked = {r.key for r in out}
    assert "z" not in picked
    assert picked <= {"a", "b"}


def test_assign_clusters_string_centroid_ids(spark):
    # the tiebreak must not negate the centroid id — string ids are valid
    from nexgap_spark.operators.similarity import assign_clusters

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        # c_x and c_dup are identical: the tie must resolve to the LOWEST id
        [("c_x", [1.0, 0.0]), ("c_dup", [1.0, 0.0]), ("c_y", [0.0, 1.0])],
        "centroid_id string, embedding array<double>",
    )
    got = {
        r.vec_id: r.centroid_id
        for r in assign_clusters(vecs, cents, dim=2).collect()
    }
    assert got == {1: "c_dup", 2: "c_y"}


def test_salted_ops_and_cdc_handle_map_columns(spark):
    # xxhash64 refuses MapType; the salting/tiebreak hash must route maps
    # through to_json (events.props is a map column)
    from nexgap_spark.operators.cdc import apply_changes
    from nexgap_spark.operators.skew import salted_agg, salted_join

    df = spark.createDataFrame(
        [(1, 10.0, {"k": "v"}), (1, 5.0, {"k": "w"}), (2, 1.0, None)],
        "user_id long, value double, props map<string,string>",
    )
    agg = salted_agg(df, ["user_id"], {"total": ("sum", "value")}, buckets=4)
    assert {(r.user_id, r.total) for r in agg.collect()} == {(1, 15.0), (2, 1.0)}

    dims = spark.createDataFrame([(1, "gold"), (2, "basic")], "user_id long, tier string")
    joined = salted_join(df, dims, ["user_id"], buckets=4)
    assert joined.count() == 3

    base = spark.createDataFrame(
        [(1, "a", {"m": "1"})], "id long, name string, attrs map<string,string>"
    )
    changes = spark.createDataFrame(
        [(1, "b", {"m": "2"}, 5)], "id long, name string, attrs map<string,string>, v long"
    )
    out = apply_changes(base, changes, key_cols=["id"], version_col="v").collect()
    assert len(out) == 1 and out[0].name == "b"


def test_language_id_multichar_cjk_markers(spark):
    # a multi-char CJK marker must count occurrences, not characters
    from nexgap_spark.operators.text import language_id

    df = spark.createDataFrame(
        # one です (ja, 1 occurrence) vs two 的 (zh, 2 occurrences):
        # char-length-delta scoring would give ja 2 hits and mis-tie
        [(1, "今日です 的的",)],
        "doc_id long, text string",
    )
    out = language_id(
        df, markers={"ja": ("です",), "zh": ("的",)}
    ).collect()[0]
    assert out.pred_lang == "zh"
    assert out.pred_lang_hits == 2


def test_filter_valid_cache_released_on_gc(spark):
    # filter_valid's persist must drop out of the CacheManager once both
    # returned frames are garbage-collected
    import gc

    from nexgap_spark.engine import Engine

    eng = Engine(spark)
    records = spark.createDataFrame(
        [(1, [{"role": "assistant", "content": "hello"}])],
        "rec_id long, messages array<struct<role:string,content:string>>",
    )
    valid, errors = eng.filter_valid(records)
    n_valid, n_err = valid.count(), errors.count()
    assert (n_valid, n_err) == (1, 0)
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert not jcache.isEmpty()
    del valid, errors
    gc.collect()
    assert jcache.isEmpty(), "filter_valid cache leaked after both outputs died"


def test_ivf_nprobe_recall(spark):
    # nprobe = n_centroids degenerates to exact brute force; recall is
    # monotone in nprobe on the way there
    from nexgap_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r.q_id, r.n_id) for r in brute_force_topk(queries, emb, k=3).collect()}

    def recall(nprobe):
        got = {
            (r.q_id, r.n_id)
            for r in ivf_topk(queries, emb, cents, k=3, nprobe=nprobe).collect()
        }
        return len(got & exact) / len(exact), got

    r1, _ = recall(1)
    r2, _ = recall(2)
    r8, got8 = recall(8)
    assert r8 == 1.0 and got8 == exact, "full probe must equal brute force"
    assert r1 <= r2 <= r8


def test_exact_dedup_null_text_passes_through(spark):
    # NULL is not equal to NULL: all-null-text docs must each survive,
    # not collapse to one representative under the NULL md5 digest
    from nexgap_spark.operators.dedup import dup_stats, exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")], "doc_id long, text string"
    )
    kept = {r.doc_id for r in exact_dedup(df).collect()}
    assert kept == {1, 2, 3}
    stats = dup_stats(df).collect()[0]
    assert (stats.n_docs, stats.n_distinct, stats.n_dup_groups, stats.max_group_size) == (4, 3, 1, 2)
    # (NULL text, NULL id) rows must ALSO each survive: a NULL id would
    # NULL the fallback concat key and re-collapse them all into one group
    df2 = spark.createDataFrame(
        [(None, None), (None, None), (7, "t")], "doc_id long, text string"
    )
    assert exact_dedup(df2).count() == 3


def test_lsh_rejects_degenerate_banding(spark):
    import pytest as _pt

    from nexgap_spark.operators.dedup import lsh_candidate_pairs, minhash_dedup

    sigs = spark.createDataFrame([(1, 0, 0)], "doc_id long, mh0 long, mh1 long")
    with _pt.raises(ValueError, match="rows_per_band"):
        lsh_candidate_pairs(sigs, bands=2, rows_per_band=0)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # bands > num_hashes (rows_per_band would floor to 0) and non-dividing
    # bands (trailing hashes silently discarded) both rejected
    with _pt.raises(ValueError, match="divide"):
        minhash_dedup(docs, num_hashes=8, bands=16)
    with _pt.raises(ValueError, match="divide"):
        minhash_dedup(docs, num_hashes=8, bands=3)


def test_simhash_wide_bits_are_live(spark):
    # bits above 32 must actually discriminate (the 8-hex-char token hash
    # left them constantly zero); bits > 60 rejected
    import pytest as _pt

    from nexgap_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta{i}") for i in range(8)],
        "doc_id long, text string",
    )
    fps = [r.simhash for r in simhash(df, bits=48).collect()]
    assert any(fp >= (1 << 32) for fp in fps), "bits 32..47 never set — dead width"
    with _pt.raises(ValueError, match=r"\[1, 60\]"):
        simhash(df, bits=64)


def test_hyperplane_lsh_mega_bucket_capped(spark):
    # r6: identical vectors all land in ONE sign bucket, whose n×n pair
    # matrix would run on a single task — the cap must bound per-task work
    from nexgap_spark.operators.similarity import hyperplane_lsh_pairs

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = 30 * 29 // 2
    assert hyperplane_lsh_pairs(df, dim=4, max_bucket_size=None).count() == full
    salted = hyperplane_lsh_pairs(df, dim=4, max_bucket_size=10, oversized="salt")
    n_salted = salted.count()
    # pairs only within hash sub-buckets: strictly fewer than the full
    # triangle, but the bucket is not silently emptied
    assert 0 < n_salted < full
    assert "hyperplane_bucket_cap" in salted._jdf.queryExecution().analyzed().toString()
    dropped = hyperplane_lsh_pairs(df, dim=4, max_bucket_size=10, oversized="drop")
    assert dropped.count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="drop' or 'salt"):
        hyperplane_lsh_pairs(df, dim=4, oversized="explode")


def test_normalize_ts_encoding_explicit_empty_cols_is_noop(spark):
    # cols=[] means "normalize nothing" — it must not fall through to the
    # auto-detect path via truthiness
    from nexgap_spark.operators.timeutil import normalize_ts_encoding

    df = spark.createDataFrame([(1_700_000_000_000_000_000,)], "ts bigint")
    assert dict(normalize_ts_encoding(df, cols=[]).dtypes)["ts"] == "bigint"
    assert dict(normalize_ts_encoding(df).dtypes)["ts"] == "timestamp"


def test_canonical_url_key_based_tracking_match(spark):
    # ADVICE r6: tracking params are identified by KEY — 'gclid2=1' and
    # 'ref_src_custom=x' are legitimate params and must survive; bare
    # 'gclid' (no '='), 'gclid=x', and any 'utm_*' must be stripped.
    from nexgap_spark.operators.curation import canonical_url

    rows = [
        (0, "https://h.org/p?gclid2=1&a=1"),
        (1, "https://h.org/p?ref_src_custom=x&a=1"),
        (2, "https://h.org/p?gclid=zz&a=1"),
        (3, "https://h.org/p?gclid&a=1"),
        (4, "https://h.org/p?utm_source=x&utm_weird=y&a=1"),
    ]
    df = spark.createDataFrame(rows, "i long, url string")
    got = {r.i: r.cu for r in df.select("i", canonical_url("url").alias("cu")).collect()}
    assert got[0] == "https://h.org/p?a=1&gclid2=1"          # kept, sorted
    assert got[1] == "https://h.org/p?a=1&ref_src_custom=x"  # kept
    assert got[2] == "https://h.org/p?a=1"                   # stripped
    assert got[3] == "https://h.org/p?a=1"                   # bare key stripped
    assert got[4] == "https://h.org/p?a=1"                   # utm_ family stripped


# ---------------------------------------------------------------------------
# Round-8 ADVICE regressions
# ---------------------------------------------------------------------------


def test_execution_timeout_env_resolved_lazily(monkeypatch):
    # AGENT_EXECUTION_TIMEOUT must be read at CALL time — env set after
    # import (or only on executors) has to take effect
    from nexgap_spark.external import execution

    monkeypatch.setenv("AGENT_EXECUTION_TIMEOUT", "7.5")
    assert execution.default_timeout_s() == 7.5
    monkeypatch.delenv("AGENT_EXECUTION_TIMEOUT")
    assert execution.default_timeout_s() == 3600.0


def test_execution_timeout_message_not_truncated():
    # a fractional timeout must be reported as given, not int-truncated
    from nexgap_spark.external.execution import run_agent_process

    rec = run_agent_process(
        "q", "fw",
        command_builder=lambda q, f: ["/bin/sh", "-c", "sleep 5"],
        timeout_s=0.2,
    )
    assert rec["error"] == "Timeout after 0.2 seconds"


def test_workflow_schema_and_cols_structurally_derived():
    # _WF_COLS must be derived from the same field table as the DDL string
    # (the old str.split parser corrupted on any parameterized type)
    from pyspark.sql.types import StructType

    from nexgap_spark.external import workflow

    parsed = StructType.fromDDL(workflow.WORKFLOW_SCHEMA)
    assert [f.name for f in parsed.fields] == workflow._WF_COLS
    assert len(workflow._WF_COLS) == len(set(workflow._WF_COLS))


def test_validate_and_repair_urls_dedupes_by_default(spark):
    # duplicate frontier URLs must not pay the repair loop per copy — the
    # fused form defaults to the two-stage path's dedup semantics
    from nexgap_spark.external.urlcheck import (
        MockRepairClient,
        hash_transport,
        validate_and_repair_urls,
    )

    urls = spark.createDataFrame(
        [("https://dup.example.org/x",)] * 4, "url string"
    )
    out = validate_and_repair_urls(
        urls, client_factory=MockRepairClient, transport_factory=hash_transport,
    ).collect()
    assert len(out) <= 1  # 0 if accessible, 1 change row if not — never 4


def test_q106_index_path_is_session_private(spark, tmp_path_factory):
    # two sessions on the same SF must not share the /tmp index directory;
    # the path embeds the Spark applicationId
    import glob
    import os
    import tempfile

    from nexgap_spark.plans.similarity import q106_ivf_indexed

    # the shared app-id-less legacy path may linger in /tmp from older
    # sessions — snapshot its mtime so we can assert THIS call didn't touch it
    legacy = os.path.join(tempfile.gettempdir(), "nexgap_ivf_index_sf0.001")
    legacy_mtime = os.path.getmtime(legacy) if os.path.exists(legacy) else None

    q106_ivf_indexed(spark, "/root/testdata/sf0.001")
    app_id = spark.sparkContext.applicationId
    expected = os.path.join(
        tempfile.gettempdir(), f"nexgap_ivf_index_sf0.001_{app_id}"
    )
    assert os.path.isdir(expected)
    if legacy_mtime is None:
        assert not os.path.exists(legacy)
    else:
        assert os.path.getmtime(legacy) == legacy_mtime


# ---------------------------------------------------------------------------
# round-9 ADVICE fixes
# ---------------------------------------------------------------------------


def test_jpeg_dri_restart_roundtrip():
    # ADVICE r8 (high): restart() raised on every valid DRI stream because
    # marker is None at a normal restart boundary (0-7 buffered padding
    # bits, marker bytes untouched). A gradient image makes the DC
    # predictors climb, so a missed predictor reset corrupts values too.
    import numpy as np

    from nexgap_spark.operators.jpeg import decode_jpeg, encode_jpeg

    # 3x5 = 15 MCUs grayscale; interval 4 -> RST0..RST2 and a short tail
    img = (np.arange(24 * 40).reshape(24, 40) * 7 % 256).astype(np.uint8)
    payload = encode_jpeg(img, restart_interval=4)
    assert b"\xff\xdd" in payload  # DRI segment present
    assert b"\xff\xd0" in payload  # at least one RSTn emitted
    out = decode_jpeg(payload)
    assert out.shape == img.shape
    # the DRI stream must decode bit-identically to the plain stream
    # (restart only realigns + resets predictors; the coefficients match)
    assert (out == decode_jpeg(encode_jpeg(img))).all()
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 10

    # solid image survives exactly (DC-only closed form, q110 contract)
    flat = np.full((24, 40), 77, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, restart_interval=2)) == 77).all()

    # RGB 4:2:0: bigger MCUs, interleaved components, predictor per channel
    rgb = np.zeros((20, 36, 3), dtype=np.uint8)
    rgb[..., 0] = (np.arange(20)[:, None] * 11) % 256
    rgb[..., 1] = 128
    rgb[..., 2] = (np.arange(36)[None, :] * 13) % 256
    out = decode_jpeg(encode_jpeg(rgb, subsampling=(2, 2), restart_interval=2))
    assert out.shape == rgb.shape
    assert np.abs(out.astype(int) - rgb.astype(int)).mean() < 4


def test_jpeg_dri_interval_multiple_of_mcus():
    # edge: image size an exact multiple of the restart interval -- the
    # final interval must NOT expect a trailing RSTn (none is emitted)
    import numpy as np

    from nexgap_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = (np.arange(16 * 32).reshape(16, 32) * 3 % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, restart_interval=2))  # 8 MCUs / 2
    assert (out == decode_jpeg(encode_jpeg(img))).all()


def test_jpeg_rejects_12bit_precision():
    # ADVICE r8 (low): a 12-bit SOF1 was accepted and decoded to garbage
    import numpy as np
    import pytest

    from nexgap_spark.operators.jpeg import decode_jpeg, encode_jpeg

    payload = bytearray(encode_jpeg(np.full((8, 8), 10, dtype=np.uint8)))
    i = payload.index(b"\xff\xc0")
    assert payload[i + 4] == 8  # precision byte
    payload[i + 4] = 12
    with pytest.raises(NotImplementedError, match="precision 12"):
        decode_jpeg(bytes(payload))


def test_with_canonical_url_temp_name_collision(spark):
    # ADVICE r8 (low): an input column named _cu_head was silently
    # overwritten and dropped by the staged projections
    from nexgap_spark.operators.curation import canonical_url, with_canonical_url

    df = spark.createDataFrame(
        [(1, "HTTPS://Ex.COM/a?utm_source=z&b=2", "keep-me")],
        "doc_id long, url string, _cu_head string",
    )
    out = with_canonical_url(df)
    assert "_cu_head" in out.columns
    row = out.first()
    assert row["_cu_head"] == "keep-me"
    expected = df.select(canonical_url(F.col("url")).alias("c")).first()["c"]
    assert row["canonical_url"] == expected == "https://ex.com/a?b=2"


def test_scale_bench_duckdb_errors_reraise():
    # ADVICE r8 (low): a genuine oracle SQL error must raise, not be
    # recorded as a timeout DNF; a real interrupt still maps to None
    import duckdb
    import pytest

    import scale_bench

    con = duckdb.connect()
    with pytest.raises(Exception, match="no_such_table"):
        scale_bench._duckdb_timed(con, "SELECT * FROM no_such_table")
    # interrupt path: fire the timer immediately on a long-running query
    old = scale_bench.DUCKDB_TIMEOUT_S
    scale_bench.DUCKDB_TIMEOUT_S = 0.05
    try:
        out = scale_bench._duckdb_timed(
            con,
            "SELECT COUNT(*) FROM range(1000000000) a, range(1000) b",
        )
        assert out is None
    finally:
        scale_bench.DUCKDB_TIMEOUT_S = old
        con.close()


# ---------------------------------------------------------------------------
# Round-10 fixes for the round-9 ADVICE findings
# ---------------------------------------------------------------------------


def test_sample_frames_malformed_container_falls_back(spark):
    # ADVICE r9 (multimodal.py): a payload that STARTS with ftyp but is
    # malformed/truncated must not kill the Arrow stage — crawl corpora
    # contain corrupt containers routinely. sample_frames degrades to the
    # stride slicer; the strict ValueError stays on the kernel path.
    import struct

    from nexgap_spark.operators import multimodal as MM
    from nexgap_spark.operators import mp4

    bad = (
        struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x00\x01"
        + struct.pack(">I", 0xFFFF0000) + b"free" + b"junk" * 8
    )
    assert mp4.is_mp4(bad)
    with pytest.raises(ValueError):
        mp4.demux_video_samples(bad)

    media = spark.createDataFrame(
        [(1, "video", bad)], "media_id long, kind string, payload binary"
    )
    out = MM.sample_frames(media, max_frames=2, every_n_bytes=8).collect()
    assert len(out) == 2  # stride slices, not a raised stage
    assert all(len(bytes(r.frame_payload)) == 8 for r in out)


def test_traf_implicit_base_carries_across_trafs_and_truns():
    # ADVICE r9 (mp4.py _parse_traf): with neither base-data-offset nor
    # default-base-is-moof, the 2nd+ traf defaults to the END of the
    # previous traf's data, and a 2nd trun without data_offset continues
    # after the previous run (ISO 14496-12 §8.8.7) — not a reset to the
    # moof start.
    import struct

    from nexgap_spark.operators import mp4

    def tfhd(track_id):
        return (
            struct.pack(">I", 8 + 8) + b"tfhd"
            + b"\x00\x00\x00\x00" + struct.pack(">I", track_id)
        )

    def trun(sizes):
        # flags = sample-size only: no data_offset
        return (
            struct.pack(">I", 8 + 8 + 4 * len(sizes)) + b"trun"
            + b"\x00" + (0x200).to_bytes(3, "big")
            + struct.pack(">I", len(sizes))
            + b"".join(struct.pack(">I", s) for s in sizes)
        )

    def traf(track_id, *runs):
        body = tfhd(track_id) + b"".join(runs)
        return struct.pack(">I", 8 + len(body)) + b"traf" + body

    t1 = traf(1, trun([3, 4]), trun([5]))  # 2nd trun continues at +7
    t2 = traf(2, trun([6, 7]))             # 2nd traf continues at +12
    body = t1 + t2
    moof = struct.pack(">I", 8 + len(body)) + b"moof" + body

    frags = mp4.parse_mp4_fragments(moof)
    assert frags[1] == [(0, 3), (3, 4), (7, 5)]
    assert frags[2] == [(12, 6), (18, 7)]


def test_parse_fragments_largesize_moof_header():
    # ADVICE r9 (mp4.py parse_mp4_fragments): moof_start was hard-coded as
    # payload_start - 8; a moof with a size==1 largesize (16-byte header)
    # shifted every default-base-is-moof offset by 8. The box walk now
    # yields the true box start.
    import struct

    from nexgap_spark.operators import mp4

    tfhd = (
        struct.pack(">I", 8 + 8) + b"tfhd"
        + b"\x00" + (0x20000).to_bytes(3, "big")  # default-base-is-moof
        + struct.pack(">I", 1)
    )
    trun = (
        struct.pack(">I", 8 + 8 + 4 + 4) + b"trun"
        + b"\x00" + (0x1 | 0x200).to_bytes(3, "big")  # data_offset + sizes
        + struct.pack(">I", 1)
        + struct.pack(">i", 100)  # offset from moof START
        + struct.pack(">I", 9)
    )
    traf = struct.pack(">I", 8 + len(tfhd) + len(trun)) + b"traf" + tfhd + trun
    content = traf
    prefix = struct.pack(">I", 16) + b"free" + b"\x00" * 8  # moof starts at 16
    moof = (
        struct.pack(">I", 1) + b"moof" + struct.pack(">Q", 16 + len(content))
        + content
    )
    frags = mp4.parse_mp4_fragments(prefix + moof)
    # offset resolves from the box START (16), not payload_start - 8 (24)
    assert frags[1] == [(16 + 100, 9)]


def test_demux_truncated_mdat_raises():
    # ADVICE r9 (mp4.py demux_video_samples): a sample table pointing past
    # the end of the buffer (truncated mdat) must raise, not silently
    # yield short/empty frames.
    import struct

    from nexgap_spark.operators import mp4

    b = bytearray(mp4.encode_mp4(16, 16, 3, fps=10, frame_bytes=8))
    k = b.find(b"stco")
    # point the single chunk 4 bytes from EOF: 3×8-byte samples overrun
    struct.pack_into(">I", b, k + 12, len(b) - 4)
    with pytest.raises(ValueError, match="exceeds file size"):
        mp4.demux_video_samples(bytes(b))


def test_duckdb_timed_uses_fresh_cursor_per_run():
    # ADVICE r9 (scale_bench.py): a timer interrupt landing just as the
    # query completes must not poison the NEXT timed run. Each run now
    # executes on its own cursor; an interrupted run leaves the shared
    # connection (and subsequent runs) clean.
    import duckdb

    import scale_bench

    con = duckdb.connect()
    con.sql("CREATE VIEW v AS SELECT * FROM range(100) t(i)")
    old = scale_bench.DUCKDB_TIMEOUT_S
    scale_bench.DUCKDB_TIMEOUT_S = 0.05
    try:
        dnf = scale_bench._duckdb_timed(
            con, "SELECT COUNT(*) FROM range(1000000000) a, range(1000) b"
        )
        assert dnf is None
        # cursors share the catalog; the next run is a clean measurement
        ok = scale_bench._duckdb_timed(con, "SELECT SUM(i) FROM v")
        assert isinstance(ok, float)
    finally:
        scale_bench.DUCKDB_TIMEOUT_S = old
        con.close()


def test_huff_table_over_subscribed_raises_value_error():
    # r11 review: the LUT fill would IndexError on an over-subscribed DHT;
    # the module's convention is ValueError("invalid JPEG: ...") so the
    # crawl-corpus guards (sample_frames fallback, per-row try) catch it
    from nexgap_spark.operators import jpeg as J

    with pytest.raises(ValueError, match="over-subscribed"):
        J._HuffTable([3] + [0] * 15, bytes([1, 2, 3]))


def test_render_zz_blocks_dequantizes_in_float64():
    # r11 review: progressive coefficients arrive int32; coef*q with a
    # 16-bit DQT can exceed 2^31 — the dequantize must upcast first
    import numpy as np

    from nexgap_spark.operators import jpeg as J

    zz = np.zeros((1, 1, 64), dtype=np.int32)
    zz[0, 0, 0] = 2**24
    q = np.full((8, 8), 65535, dtype=np.int64)
    out = J._render_zz_blocks(zz, q)
    # an int32 wrap would go negative / tiny; the true DC is ~1.37e14/8
    assert float(out.max()) > 1e8


def test_stsz_fixed_count_bounded_by_file_not_constant():
    # r11 review (two passes): a constant cap rejected valid long tracks
    # (per-frame PCM passes 16.7M samples in minutes); bounding n alone by
    # the file size still let (fixed=4096, n=len) allocate ~8x the file.
    # The sound bound is n * fixed <= file bytes (every sample occupies
    # >= fixed bytes of mdat).
    import struct as st

    from nexgap_spark.operators import mp4

    b = mp4.encode_mp4(16, 16, 5, fps=10, frame_bytes=8)
    i = b.find(b"stsz")
    hostile = bytearray(b)
    st.pack_into(">I", hostile, i + 8, 2)  # fixed sample size
    st.pack_into(">I", hostile, i + 12, len(b) + 1)  # n*fixed > file bytes
    with pytest.raises(ValueError, match="stsz claims"):
        mp4.parse_mp4(bytes(hostile))
    # structurally impossible even with n <= file bytes: big fixed size
    hostile2 = bytearray(b)
    st.pack_into(">I", hostile2, i + 8, 4096)
    st.pack_into(">I", hostile2, i + 12, len(b) - 1)
    with pytest.raises(ValueError, match="stsz claims"):
        mp4.parse_mp4(bytes(hostile2))
    ok = bytearray(b)
    st.pack_into(">I", ok, i + 8, 2)
    st.pack_into(">I", ok, i + 12, len(b) // 4)  # n*fixed = len/2: plausible
    parsed = mp4.parse_mp4(bytes(ok))
    assert parsed["tracks"][0]["n_samples"] == len(b) // 4


# ---------------------------------------------------------------------------
# round-12 review fixes (ADVICE r11 + VERDICT r11 item 7)
# ---------------------------------------------------------------------------


def _string_id_embeddings(spark, n=40):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < n)
        .select(
            F.concat(F.lit("doc_"), F.col("vec_id")).alias("vec_id"), "embedding"
        )
    )


def test_brute_force_topk_non_bigint_ids(spark):
    # VERDICT r11 item 7: the partial-topk schema must carry the NATIVE id
    # type — a hard-coded `long` coerced/failed string ids
    from nexgap_spark.operators.similarity import brute_force_topk

    emb = _string_id_embeddings(spark)
    out = brute_force_topk(emb.limit(3), emb, k=2)
    assert dict(out.dtypes)["q_id"] == "string"
    assert dict(out.dtypes)["n_id"] == "string"
    rows = out.collect()
    assert rows and all(r.n_id.startswith("doc_") for r in rows)


def test_ivf_topk_non_bigint_ids(spark):
    from nexgap_spark.operators.similarity import ivf_topk

    emb = _string_id_embeddings(spark)
    cents = emb.limit(4).select(F.col("vec_id").alias("centroid_id"), "embedding")
    out = ivf_topk(emb.limit(3), emb, cents, k=2, nprobe=4)
    assert dict(out.dtypes)["n_id"] == "string"
    rows = out.collect()
    assert rows and all(r.n_id.startswith("doc_") for r in rows)


def test_hyperplane_lsh_pairs_non_bigint_ids(spark):
    from nexgap_spark.operators.similarity import hyperplane_lsh_pairs

    emb = _string_id_embeddings(spark)
    out = hyperplane_lsh_pairs(emb, n_planes=2)
    assert dict(out.dtypes)["a"] == "string"
    assert dict(out.dtypes)["b"] == "string"
    rows = out.collect()
    assert rows and all(r.a < r.b for r in rows)


def _null_trace_spans(spark):
    return spark.createDataFrame(
        [
            ("t1", "s1", None, "root"),
            ("t1", "s2", "s1", "child"),
            (None, "s3", "s1", "orphan-trace"),
        ],
        "trace_id string, span_id string, parentObservationId string, span_name string",
    )


def test_trace_colocated_null_trace_raises(spark):
    # ADVICE r11: a NULL trace id can't co-locate, so its parent edges would
    # silently resolve to NULL — misuse must fail loudly by default
    from nexgap_spark.operators import span_tree

    spans = _null_trace_spans(spark)
    with pytest.raises(ValueError, match="non-null 'trace_id'"):
        span_tree.join_parent(spans, trace_col="trace_id")
    with pytest.raises(ValueError, match="non-null 'trace_id'"):
        span_tree.resolve_root(
            spans, parent_col="parentObservationId", trace_col="trace_id"
        )
    with pytest.raises(ValueError, match="non-null 'trace_id'"):
        span_tree.resolve_agent_name(spans, ["root"], trace_col="trace_id")


def test_trace_colocated_null_trace_optout(spark):
    # the documented opt-out keeps the old degrade-to-NULL behavior
    from nexgap_spark.operators import span_tree

    spans = _null_trace_spans(spark)
    out = span_tree.join_parent(
        spans, trace_col="trace_id", validate_trace=False
    ).collect()
    by_id = {r.span_id: r for r in out}
    assert by_id["s2"].parent_span_name == "root"
    assert by_id["s3"].parent_span_name is None  # the accepted degradation


def test_scan_cache_invalidated_by_write_paths(spark, tmp_path):
    # ADVICE r11: the package's own write entry points must invalidate the
    # analyzed-scan cache, or an in-place rewrite serves a stale listing
    from nexgap_spark import session as S
    from nexgap_spark.sources.parquet_sink import compact_parquet

    d = tmp_path / "sfX"
    d.mkdir()
    spark.range(10).toDF("x").write.parquet(str(d / "mytab.parquet"))
    assert S.load_table(spark, str(d), "mytab").count() == 10
    src = str(tmp_path / "src")
    spark.range(25).toDF("x").write.parquet(src)
    compact_parquet(spark, src, str(d / "mytab.parquet"))
    assert S.load_table(spark, str(d), "mytab").count() == 25


def test_jpeg_bitreader_bitbuf_bounded():
    # ADVICE r11: bitbuf must stay masked to the valid window — an unmasked
    # bignum grows a byte per fill for the whole entropy segment, making
    # every read O(segment) and whole-scan decode quadratic
    from nexgap_spark.operators.jpeg import _BitReader

    data = bytes([0x55] * 5000)
    br = _BitReader(data, 0)
    for _ in range(5000 * 8):
        br.read_bit()
    assert br.bitbuf.bit_length() <= br.nbits + 8


# ---------------------------------------------------------------------------
# r13 review findings
# ---------------------------------------------------------------------------


def test_q47_null_semantics_match_oracle(spark, tmp_path):
    """r13 review: the split exact-distinct shape must keep COUNT(DISTINCT)
    semantics — NULL values are not distinct values, but a NULL group key
    still forms a group (the old inner equi-join dropped it)."""
    import duckdb

    from nexgap_spark.plans import ORACLES, QUERIES

    d = tmp_path / "sf"
    d.mkdir()
    rows = [
        ("A", 1, 10), ("A", None, 11), ("A", 2, None),
        (None, 3, 12), (None, None, 13),
        ("R", 4, 14),
    ]
    spark.createDataFrame(
        rows, "l_returnflag string, l_partkey long, l_suppkey long"
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    key = lambda t: tuple((x is None, x) for x in t)  # NULL-safe sort
    got = sorted(
        (tuple(r) for r in QUERIES["q47_approx_distinct"](spark, str(d)).collect()),
        key=key,
    )
    con = duckdb.connect()
    import glob as g
    f = g.glob(str(d / "lineitem.parquet" / "*.parquet"))[0]
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{f}')")
    want = sorted(con.sql(ORACLES["q47_approx_distinct"]).fetchall(), key=key)
    assert got == want
    assert len(got) == 3  # A, R, and the NULL-flag group


def test_fingerprint_temp_columns_never_shadow(spark):
    """r13 review: a user column named like fingerprint's temp columns must
    survive unchanged."""
    from nexgap_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "keep me")],
        "doc_id long, text string, _fingerprint_toks string",
    )
    out = fingerprint(df).collect()[0]
    assert out["_fingerprint_toks"] == "keep me"
    assert out["fingerprint"] is not None


def test_word_shingles_mapper_fusion_equivalence(spark):
    """r13 review: word_shingles(mapper=md5) must equal md5 applied to the
    plain shingles (the fused path fingerprint uses)."""
    from nexgap_spark.operators.text import word_shingles

    df = spark.createDataFrame(
        [(["a", "b", "c", "d"],), (["x"],)], "toks array<string>"
    )
    got = df.select(
        word_shingles(F.col("toks"), 3).alias("plain"),
        word_shingles(F.col("toks"), 3, mapper=F.md5).alias("fused"),
    ).collect()
    for r in got:
        assert r.fused == [__import__("hashlib").md5(s.encode()).hexdigest() for s in r.plain]


def test_profile_columns_backslash_name(spark):
    """r13 review: a backslash in a column name must round-trip through the
    generated SQL literals (Spark literals process backslash escapes)."""
    from nexgap_spark.operators import profiling

    name = r"weird\name"
    df = spark.createDataFrame([(1,), (2,), (2,)], f"`{name}` long")
    prof = {r.column_name: r for r in profiling.profile_columns(df, cols=[name]).collect()}
    assert prof[name].n_rows == 3 and prof[name].n_distinct == 2
    ap = {r.column_name: r for r in profiling.profile_columns_approx(df, cols=[name]).collect()}
    assert ap[name].n_distinct_approx == 2


def test_bench_require_tables_rejects_empty_dir(tmp_path):
    """r13 review: a table directory with zero part files is incomplete —
    the fail-fast guard must catch it before either bench phase."""
    import sys
    sys.path.insert(0, "/root/repo")
    import bench
    from nexgap_spark.session import TABLES

    d = tmp_path / "sfX"
    d.mkdir()
    for t in TABLES:
        (d / f"{t}.parquet").mkdir()  # empty Spark-style dirs
    with pytest.raises(FileNotFoundError, match="empty directory"):
        bench._require_tables(str(d))


def test_colocatable_cache_confirms_semantics(spark):
    """r13 review: a cache hit must be confirmed with sameSemantics, and a
    failing plan must stay loud even after an unrelated plan was cached."""
    from nexgap_spark.operators import span_tree

    ok = spark.createDataFrame(
        [("t1", "s1", None, "root")],
        "trace_id string, span_id string, parentObservationId string, span_name string",
    ).coalesce(1)
    span_tree._COLOCATABLE_OK.clear()
    span_tree._require_colocatable(ok, "trace_id", True)
    assert len(span_tree._COLOCATABLE_OK) == 1
    # second pass: cache hit (no exception, still one entry)
    span_tree._require_colocatable(ok, "trace_id", True)
    assert len(span_tree._COLOCATABLE_OK) == 1
    bad = spark.createDataFrame(
        [(None, "s1", None, "root")],
        "trace_id string, span_id string, parentObservationId string, span_name string",
    ).coalesce(1)
    with pytest.raises(ValueError, match="non-null"):
        span_tree._require_colocatable(bad, "trace_id", True)


# ---------------------------------------------------------------------------
# r14 review fixes
# ---------------------------------------------------------------------------


def test_pin_scan_width_respects_caller_tuned_value(spark):
    """r14 review: pin_utc_session must not clobber a caller-tuned
    openCostInBytes; only the unset/default-pin states get pinned."""
    from nexgap_spark.operators.timeutil import (
        _SCAN_OPEN_COST,
        pin_scan_width,
        pin_utc_session,
    )

    key = "spark.sql.files.openCostInBytes"
    try:
        spark.conf.set(key, "1048576")  # caller-tuned, non-default
        pin_utc_session(spark)
        assert spark.conf.get(key) == "1048576"
        assert pin_scan_width(spark) is False
        # force=True is the explicit clobber path
        assert pin_scan_width(spark, force=True) is True
        assert spark.conf.get(key) == _SCAN_OPEN_COST
        # already-at-pin state is re-pinnable (idempotent no-op)
        assert pin_scan_width(spark) is True
    finally:
        spark.conf.set(key, _SCAN_OPEN_COST)  # restore the fixture's state


def test_leakage_safe_split_duplicate_membership_no_fanout(spark):
    """r14 review: duplicate (key) membership rows must not fan out through
    the left join — output row count equals input row count, and a key
    claimed by two groups resolves deterministically to the MIN group."""
    from nexgap_spark.operators import curation

    docs = spark.createDataFrame([(f"d{i}",) for i in range(6)], "doc_id string")
    groups = spark.createDataFrame(
        [
            ("d0", "g1"),
            ("d0", "g1"),  # exact duplicate membership row
            ("d1", "g9"),
            ("d1", "g2"),  # conflicting membership: min -> g2
        ],
        "doc_id string, group_id string",
    )
    out = curation.leakage_safe_split(docs, groups)
    assert out.count() == 6  # no fan-out
    # determinism of the conflict resolution: d1 hashes via g2, same as a
    # clean single-membership input would
    clean = spark.createDataFrame(
        [("d0", "g1"), ("d1", "g2")], "doc_id string, group_id string"
    )
    expect = {r["doc_id"]: r["split"] for r in curation.leakage_safe_split(docs, clean).collect()}
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert got == expect


def test_assemble_sf1_ratio_null_when_spark_comparable_missing(tmp_path):
    """r14 review: a sweep artifact with duckdb_total but missing
    spark_comparable must emit ratio=null, not raise."""
    import json as _json
    import os as _os
    import subprocess
    import sys as _sys

    s01 = {"queries": {"qx": 0.5}, "duckdb": {"qx": 0.1}, "value": 0.5}
    s1 = {
        "queries": {"qx": 1.0},
        "duckdb": {"qx": 0.2},
        "value": 1.0,
        "duckdb_total": 0.2,
        # spark_comparable intentionally absent
    }
    p01, p1, pout = tmp_path / "s01.json", tmp_path / "s1.json", tmp_path / "out.json"
    p01.write_text(_json.dumps(s01))
    p1.write_text(_json.dumps(s1))
    env = dict(
        _os.environ,
        SF01_DETAIL=str(p01),
        SF1_DETAIL=str(p1),
        SF1_OUT=str(pout),
    )
    r = subprocess.run(
        [_sys.executable, "tools_assemble_sf1.py"],
        cwd="/root/repo",
        env=env,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 0, r.stderr
    out = _json.loads(pout.read_text())
    assert out["sf1_totals"]["ratio"] is None


def test_baseline_namespace_segregation():
    """r14 (VERDICT r13 item 1): the declared-quadratic oracle baselines
    live in the baseline_ namespace, never in the bench HEADLINE set, and
    the scale twins stay headline."""
    import bench
    from nexgap_spark.plans import BASELINE_QUERIES, ORACLES, QUERIES

    assert BASELINE_QUERIES == {
        "baseline_q29_ngram_jaccard_topk",
        "baseline_q36_embedding_near_dup",
    }
    assert BASELINE_QUERIES <= set(QUERIES)
    assert BASELINE_QUERIES <= set(ORACLES)  # full value oracles retained
    assert not (set(bench.HEADLINE) & BASELINE_QUERIES)
    # every baseline name carries the namespace prefix and nothing else does
    assert all(n.startswith("baseline_") for n in BASELINE_QUERIES)
    assert not [
        n for n in QUERIES if n.startswith("baseline_") and n not in BASELINE_QUERIES
    ]
    # scale twins are headline rows
    for twin in ("q31_minhash_lsh_pairs", "q45_hyperplane_lsh", "q102_semantic_dedup"):
        assert twin in bench.HEADLINE
    # r15 (ADVICE r14): whenever no baseline is window-listed, the
    # baselines must occupy the catalog TAIL for every in-order consumer
    # (the r14 window deliberately violated this to earn external rows
    # under the renamed keys; the guarantee is conditional, not absolute)
    from nexgap_spark.plans.__init__ import _DRIVER_WINDOW

    if not (set(_DRIVER_WINDOW) & BASELINE_QUERIES):
        tail = list(QUERIES)[-len(BASELINE_QUERIES):]
        assert set(tail) == BASELINE_QUERIES, tail


def test_assemble_sf1_segregates_baselines(tmp_path):
    """r14: a baseline_ query in a sweep artifact lands in the baselines
    section — excluded from the headline table and never flagged."""
    import json as _json
    import os as _os
    import subprocess
    import sys as _sys

    s01 = {
        "queries": {"qx": 0.5, "baseline_q29_ngram_jaccard_topk": 0.4},
        "duckdb": {"qx": 0.1},
        "value": 0.5,
        "spark_comparable": 0.5,
        "duckdb_total": 0.1,
    }
    # pre-split artifact shape: the baseline is inline AND counted in every
    # total — the assembler must subtract it from the headline sums too
    # (r14 review follow-up)
    s1 = {
        "queries": {"qx": 5.0, "baseline_q29_ngram_jaccard_topk": 40.0},  # 100x growth
        "duckdb": {"qx": 1.0, "baseline_q29_ngram_jaccard_topk": 2.0},
        "value": 45.0,
        "spark_comparable": 45.0,
        "duckdb_total": 3.0,
    }
    p01, p1, pout = tmp_path / "s01.json", tmp_path / "s1.json", tmp_path / "out.json"
    p01.write_text(_json.dumps(s01))
    p1.write_text(_json.dumps(s1))
    env = dict(
        _os.environ, SF01_DETAIL=str(p01), SF1_DETAIL=str(p1), SF1_OUT=str(pout)
    )
    r = subprocess.run(
        [_sys.executable, "tools_assemble_sf1.py"],
        cwd="/root/repo", env=env, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stderr
    out = _json.loads(pout.read_text())
    assert "baseline_q29_ngram_jaccard_topk" not in out["queries"]
    assert out["baselines"]["baseline_q29_ngram_jaccard_topk"]["sf1_over_sf01"] == 100.0
    assert not [f for f in out["flagged_superlinear"] if f["query"].startswith("baseline_")]
    # the inline baseline's seconds come OFF every headline total
    assert out["sf1_totals"]["spark"] == 5.0
    assert out["sf1_totals"]["spark_comparable"] == 5.0
    assert out["sf1_totals"]["duckdb_comparable"] == 1.0
    assert out["sf1_totals"]["ratio"] == 5.0
    assert out["sf01_totals"]["spark"] == 0.1  # 0.5 - 0.4 inline baseline


def test_broadcast_threshold_scales_with_driver_heap(monkeypatch):
    """r14 memsweep finding: a 2g driver + the flat 64MB broadcast
    threshold dies in broadcast build; the threshold now scales as
    heap/64, floored at 8MB and capped at 64MB (so >=4g heaps — every
    existing plan audit — are unchanged)."""
    # assert the PRODUCTION function (r14 review pass 2: a local
    # re-implementation would stay green if session.py's expression broke)
    from nexgap_spark.session import _broadcast_threshold_bytes as thresh
    from nexgap_spark.session import _driver_mem_bytes

    cases = {
        "24g": 64, "4g": 64, "2g": 32, "1g": 16, "512m": 8, "128m": 8,
        # Spark semantics (r14 review): suffix-less = MiB, two-letter
        # suffixes legal, bare 'b' = bytes
        "4096": 64, "2048": 32, "2gb": 32, "24gb": 64, "4096mb": 64,
        str(2 * 1024**3) + "b": 32,
    }
    for mem, mb in cases.items():
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
        assert thresh() == mb * 1024 * 1024, (mem, thresh())
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert thresh() == 64 * 1024 * 1024  # default 24g
    import pytest as _pytest

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "lots")
    with _pytest.raises(ValueError, match="memory string"):
        _driver_mem_bytes()


def test_append_ivf_index_layout_one_file_per_centroid(spark, tmp_path):
    """r14 review: appends must not shred the partition-pruned layout —
    with the centroid-keyed repartition, each append adds at most ONE file
    per centroid dir (was: one per task per centroid), and the index union
    stays complete."""
    import glob
    import os

    from nexgap_spark.operators import similarity as sim
    from nexgap_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    path = str(tmp_path / "idx")
    first = emb.filter("vec_id < 100")
    rest = emb.filter("vec_id >= 100")
    sim.build_ivf_index(first, cents, path)
    sim.append_ivf_index(rest, path)
    corpus, _ = sim.load_ivf_index(spark, path)
    assert corpus.count() == emb.count()  # union complete, nothing lost
    for cdir in glob.glob(f"{path}/corpus/centroid_id=*"):
        files = [f for f in os.listdir(cdir) if f.endswith(".parquet")]
        assert len(files) <= 2, (cdir, files)  # 1 from build + <=1 per append


def test_shingle_table_fixed_width_same_rows_full_width(spark):
    """r17: materialized shingle tables must not inherit AQE's 1-partition
    coalesce of the distinct exchange (it serialized every downstream
    consumer at sf1.0) — fixed_width=True pins the distinct output to
    defaultParallelism partitions while producing the identical row set."""
    from nexgap_spark.operators.dedup import shingle_table
    from nexgap_spark.session import load_table, materialize

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    from nexgap_spark.session import adaptive_width

    stock = shingle_table(docs)
    fixed = materialize(shingle_table(docs, fixed_width=True))
    # r18: the pinned width is input-size-derived (= core count on any
    # at-scale input); the invariant that matters is > 1 partition — the
    # checkpoint must never freeze AQE's 1-partition coalesce
    width = adaptive_width(docs)
    assert width > 1
    assert fixed.rdd.getNumPartitions() == width
    assert stock.exceptAll(fixed).isEmpty() and fixed.exceptAll(stock).isEmpty()


def test_fan_out_skips_shuffle_on_wide_inputs(spark):
    """r17: operator fan-out is scale-adaptive — fan_out_python_stage
    (now used by shingle_table, simhash, repetition_features and the
    similarity/pq probe kernels in place of an unconditional
    repartition(par)) must NOT inject a round-robin shuffle of the full
    payload when the input already carries ≥ core-count partitions (the
    at-scale case: a wide corpus scan), must still fan a narrow input
    out to defaultParallelism (the local/single-file case), and must
    produce identical rows either way. Inputs whose lineage contains
    exchanges take the unconditional repartition (the eager df.rdd probe
    would run real jobs under AQE)."""
    from pyspark.sql import functions as F

    from nexgap_spark.operators.dedup import simhash
    from nexgap_spark.session import fan_out_python_stage, materialize

    par = spark.sparkContext.defaultParallelism
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta w"), (F.col("id") % 97).cast("string"),
            F.lit(" gamma delta"),
        ).alias("text"),
    )
    # cheap-lineage frames at both widths (LogicalRDD roots — no
    # exchange tokens, so the conditional probe branch is exercised)
    wide = materialize(docs.repartition(par + 4))
    narrow = materialize(docs.coalesce(1))
    assert wide.rdd.getNumPartitions() >= par
    assert narrow.rdd.getNumPartitions() == 1

    from nexgap_spark.session import adaptive_width

    fo_wide = fan_out_python_stage(wide)
    fo_narrow = fan_out_python_stage(narrow)
    assert fo_wide is wide  # already wide → untouched, no shuffle
    # r18: narrow inputs fan to the input-size-derived width (capped at
    # core count), not unconditionally to defaultParallelism
    assert fo_narrow.rdd.getNumPartitions() == adaptive_width(narrow)
    assert 1 < adaptive_width(narrow) <= par

    # end-to-end through an operator: identical rows, and the wide plan
    # carries no injected round-robin exchange
    sh_wide, sh_narrow = simhash(wide), simhash(narrow)
    assert "RoundRobinPartitioning" not in (
        sh_wide._jdf.queryExecution().executedPlan().toString()
    )
    assert sh_wide.exceptAll(sh_narrow).isEmpty()
    assert sh_narrow.exceptAll(sh_wide).isEmpty()

    # exchange-bearing lineage → unconditional repartition (probe unsafe)
    agg = docs.groupBy((F.col("doc_id") % 7).alias("g")).agg(
        F.count("*").alias("c")
    )
    fo_agg = fan_out_python_stage(agg)
    assert fo_agg is not agg
    assert "RoundRobinPartitioning" in (
        fo_agg._jdf.queryExecution().optimizedPlan().toString()
        + fo_agg._jdf.queryExecution().executedPlan().toString()
    )


def test_shared_shingles_size_gate(spark, monkeypatch):
    """r17: the multi-consumer shingle pass is size-gated — below the
    input-size threshold it stays a plain lazy distinct (recompute per
    consumer beats the checkpoint barrier at toy scale, measured), above
    it the fixed-width table is materialized once (one corpus scan at
    100 TB). Both regimes must produce the identical row set."""
    from nexgap_spark.operators import dedup
    from nexgap_spark.operators.dedup import shared_shingles
    from nexgap_spark.session import _plan_stats_bytes, load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    est = _plan_stats_bytes(docs)
    assert est > 0

    def gated(df, min_bytes, **kw):
        with monkeypatch.context() as m:
            m.setattr(dedup, "SHINGLE_MAT_MIN_BYTES", min_bytes)
            return shared_shingles(df, **kw)

    def is_mat(df):
        # a materialized result IS a bare scan at the plan root (the input
        # being checkpoint-backed must not count, so no substring search)
        return df._jdf.queryExecution().optimizedPlan().nodeName() == "LogicalRDD"

    lazy = gated(docs, est + 1)
    mat = gated(docs, est)
    assert not is_mat(lazy)
    assert is_mat(mat)
    assert lazy.exceptAll(mat).isEmpty() and mat.exceptAll(lazy).isEmpty()
    # size_of override: callers whose frame is checkpoint-backed gate on
    # the upstream scan it derives from (RDD lineages may report a
    # conservative estimate; the scan's is exact) — the passed frame, not
    # the gated one, must drive the decision
    from nexgap_spark.session import materialize

    ckpt = materialize(docs)
    assert not is_mat(gated(ckpt, est + 1, size_of=docs))
    assert is_mat(gated(ckpt, est, size_of=docs))


def test_dup_groups_single_round_clique_converges(spark):
    """r17 round-1 peel: a clique converges with labels identical to the
    general loop's result, and the convergence metric still reports
    converged=1 (the peeled first round must not skew detection)."""
    from pyspark.sql import Observation

    from nexgap_spark.operators.dedup import dup_groups

    pairs = spark.createDataFrame(
        [(7, 8), (8, 9), (7, 9), (20, 21)], "a long, b long"
    )
    out = dup_groups(pairs)
    obs_name = [
        m for m in out._jdf.queryExecution().analyzed().toString().split("\n")
        if "dup_groups_convergence" in m
    ]
    got = {r.n: r.group_id for r in out.collect()}
    assert got == {7: 7, 8: 7, 9: 7, 20: 20, 21: 20}
    assert obs_name  # the convergence metric is still on the returned plan


def test_bench_stdout_ladder_sheds_env_before_queries():
    """r17: the driver contract says per-query entries are never removed —
    the stdout fallback ladder must shed every optional key (env, sf_dir)
    before it ever touches the queries map. The r17 baseline run proved the
    env fingerprint alone tips 61 full-precision queries past the 1800-char
    guard; the old ladder answered by emptying the queries map."""
    import json as _json

    import bench

    def mk_result():
        return {
            "metric": "headline query wall time (Spark, local)",
            "value": 77.336,
            "unit": "sec",
            # the real headline names at full precision: the r17 baseline shape
            "queries": {
                name: round(1.234 + i / 997, 3)
                for i, name in enumerate(bench.HEADLINE)
            },
            "sf": 0.1,
            "sf_dir": "/root/testdata/sf0.1",
            "env": {
                "load1": 0.19,
                "uptime_s": 6367,
                "fresh_boot": False,
                "steal_pct": 4.55,
                "calib_sec": 0.417,
            },
            "duckdb_total": 92.664,
            "spark_comparable": 77.336,
        }

    res = mk_result()
    line = bench._compact_stdout_line(res)
    assert len(line) < 1800
    parsed = _json.loads(line)
    # the contract map survives intact
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    # optional keys were shed instead (whichever rung it stopped at)
    assert "queries_note" not in parsed

    # last-resort rung still exists for a pathologically large map
    huge = mk_result()
    huge["queries"] = {f"q{i:04d}_{'x' * 40}": 1.0 for i in range(200)}
    line2 = bench._compact_stdout_line(huge)
    assert len(line2) < 1800 and _json.loads(line2)["queries"] == {}
