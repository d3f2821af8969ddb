"""S8/S9/S11/F22 sinks + P8/A8 lifecycle ops."""

from __future__ import annotations

import base64
import json
import os

import pytest
from pyspark.sql import functions as F

from nexgap_spark.operators.runstats import filter_nonempty_query, run_summary
from nexgap_spark.sources import files


@pytest.fixture(scope="module")
def urls(spark):
    rows = [
        (1, "https://example.com/a/b/report.csv"),
        (2, "https://example.com/dir/"),                       # empty basename
        (3, "data:text/csv;base64," + base64.b64encode(b"x,y\n1,2").decode()),
        (4, "data:text/plain,hello%20world"),
        (5, "ftp://example.com/nope.bin"),                     # blocked scheme
    ]
    return spark.createDataFrame(rows, "id long, url string")


def test_url_parts(urls):
    got = {
        r.url: (r.scheme, r.fname, r.ok)
        for r in urls.select(
            "url",
            files.url_scheme("url").alias("scheme"),
            files.url_filename("url").alias("fname"),
            files.url_allowed("url").alias("ok"),
        ).collect()
    }
    https_csv = got["https://example.com/a/b/report.csv"]
    assert https_csv == ("https", "report.csv", True)
    empty_base = got["https://example.com/dir/"]
    assert empty_base[1].startswith("file_") and empty_base[2]
    data_csv = [v for k, v in got.items() if k.startswith("data:text/csv")][0]
    assert data_csv[0] == "data" and data_csv[1].endswith(".csv") and data_csv[2]
    assert got["ftp://example.com/nope.bin"][2] is False


def test_download_files_data_and_fake_https(urls, tmp_path):
    fetched = []

    def fake_fetch(url: str) -> bytes:
        fetched.append(url)
        return b"payload-for-" + url.encode()

    out = {r.url: r for r in files.download_files(
        urls, str(tmp_path), fetcher=fake_fetch
    ).collect()}
    csv_rec = [v for k, v in out.items() if k.startswith("data:text/csv")][0]
    assert csv_rec.status == "downloaded"
    assert open(csv_rec.local_path, "rb").read() == b"x,y\n1,2"
    plain_rec = out["data:text/plain,hello%20world"]
    assert open(plain_rec.local_path, "rb").read() == b"hello world"
    https_rec = out["https://example.com/a/b/report.csv"]
    assert https_rec.status == "downloaded"
    assert open(https_rec.local_path, "rb").read().startswith(b"payload-for-")
    ftp_rec = out["ftp://example.com/nope.bin"]
    assert ftp_rec.status == "failed" and "unsupported URL scheme" in ftp_rec.error


def test_download_files_no_fetcher_fails_https_only(urls, tmp_path):
    out = {r.url: r.status for r in files.download_files(
        urls, str(tmp_path)
    ).collect()}
    assert out["https://example.com/a/b/report.csv"] == "failed"
    assert [s for u, s in out.items() if u.startswith("data:")] == ["downloaded"] * 2


def test_write_json_array_roundtrip_and_cap(spark, tmp_path):
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    p = str(tmp_path / "arr.json")
    n = files.write_json_array(df.orderBy("id"), p)
    assert n == 5
    data = json.load(open(p))
    assert sorted(d["id"] for d in data) == [0, 1, 2, 3, 4]
    with pytest.raises(ValueError, match="max_rows"):
        files.write_json_array(spark.range(100), str(tmp_path / "x.json"), max_rows=10)


def test_write_stats_json(spark, tmp_path):
    stats_df = spark.range(100).agg(
        F.count("*").alias("n"), F.avg("id").alias("mean_id")
    )
    p = str(tmp_path / "stats.json")
    stats = files.write_stats_json(stats_df, p)
    assert stats["n"] == 100
    assert json.load(open(p))["mean_id"] == 49.5
    with pytest.raises(ValueError, match="exactly 1 row"):
        files.write_stats_json(spark.range(3), p)


def test_filter_nonempty_query(spark):
    df = spark.createDataFrame(
        [(1, "real question"), (2, ""), (3, "   "), (4, None)],
        "id long, query string",
    )
    kept, rejected = filter_nonempty_query(df)
    assert [r.id for r in kept.collect()] == [1]
    rej = {r.id: r.stop for r in rejected.collect()}
    assert rej == {2: "empty_query", 3: "empty_query", 4: "empty_query"}


def test_run_summary(spark):
    df = spark.createDataFrame(
        [(i, "success" if i % 3 else "failed") for i in range(1, 10)]
        + [(10, "skipped")],
        "id long, status string",
    )
    s = run_summary(df).first()
    assert s.n_total == 10 and s.n_success == 6 and s.n_failed == 4
    assert s.success_rate == 0.6
    assert s.by_status == {"success": 6, "failed": 3, "skipped": 1}


def test_serper_contract_and_distributed_search(spark):
    from nexgap_spark.external import websearch as ws

    cfg = ws.SearchConfig(max_results=2, market="de", language="de")
    assert ws.serper_payload("q1", cfg) == {"q": "q1", "num": 2, "gl": "de", "hl": "de"}

    organic = {"organic": [{"title": f"t{i}", "snippet": f"s{i}", "link": f"u{i}",
                            "source": "src", "date": "2026"} for i in range(5)]}
    parsed = ws.parse_serper_response(organic, cfg)
    assert [p["title"] for p in parsed] == ["t0", "t1"]  # max_results cap
    news_only = {"organic": [], "news": [{"title": "n", "link": "nu", "snippet": "ns"}]}
    assert ws.parse_serper_response(news_only, cfg)[0]["title"] == "n"  # fallback

    assert ws.build_search_queries("a data analyst", "churn modeling") == [
        "churn modeling", "a data analyst churn modeling",
    ]
    assert ws.build_search_queries("", "x") == ["x"]  # dedup of identical pair

    transport = ws.canned_transport({
        "churn modeling": organic,
        "no hits": {},
    })

    def boom(payload):
        raise RuntimeError("rate limited")

    df = spark.createDataFrame(
        [("churn modeling",), ("no hits",), ("err q",)], "search_query string"
    )
    got = ws.search_queries(df, transport, cfg=cfg)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.search_query, []).append(r)
    assert len(by_q["churn modeling"]) == 2 and by_q["churn modeling"][0].error is None
    assert "no hits" not in by_q  # a no-hit search yields zero rows, no error

    failing = ws.search_queries(
        spark.createDataFrame([("err q",)], "search_query string"), boom, cfg=cfg
    ).collect()
    assert len(failing) == 1 and "rate limited" in failing[0].error


def test_url_parts_adversarial_inputs(spark):
    # totality: parsing expressions must not raise and filename is always
    # non-empty, whatever the input looks like
    cases = [
        "", ":", "https://", "data:", "data:;base64,", "no-scheme/path/x.bin",
        "HTTPS://UPPER.example/F.TXT", "https://h/a//", "data:text/unknown,zz",
        "https://example.com/percent%20name.txt", "x" * 5000,
        "https://example.com/ünïcode.txt", "a:b:c://weird",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "url string")
    rows = df.select(
        "url",
        files.url_scheme("url").alias("scheme"),
        files.url_filename("url").alias("fname"),
        files.url_allowed("url").alias("ok"),
    ).collect()
    by_url = {r.url: r for r in rows}
    assert all(r.fname for r in rows)  # never empty
    assert by_url["HTTPS://UPPER.example/F.TXT"].scheme == "https"
    assert by_url["HTTPS://UPPER.example/F.TXT"].ok is True
    assert by_url[""].scheme == "" and by_url[""].ok is False
    assert by_url["no-scheme/path/x.bin"].ok is False


def test_dup_groups_converged_no_warning(spark, recwarn):
    from nexgap_spark.operators.dedup import dup_groups

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    got = {r.n: r.group_id for r in dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert not [w for w in recwarn if "did not converge" in str(w.message)]


def test_run_summary_null_status_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "success"), (2, None), (3, "failed")], "id long, status string"
    )
    s = run_summary(df).first()
    assert s.n_total == 3 and s.n_success == 1 and s.n_failed == 2
    assert s.by_status == {"success": 1, "__null__": 1, "failed": 1}
    empty = run_summary(df.limit(0)).first()
    assert (empty.n_total, empty.n_success, empty.n_failed) == (0, 0, 0)
    assert empty.success_rate is None  # 0/0 is undefined, not 0%


def test_download_basename_collisions_disambiguated(spark, tmp_path):
    urls = spark.createDataFrame(
        [("data:text/plain,from-a",), ("data:text/plain,from-b",)],
        "url string",
    )
    # both data: URLs would otherwise collide only if filenames matched —
    # force a collision via https basenames instead
    urls = spark.createDataFrame(
        [("https://a.example/report.csv",), ("https://b.example/report.csv",)],
        "url string",
    )
    out = files.download_files(urls, str(tmp_path), fetcher=lambda u: u.encode()).collect()
    paths = {r.local_path for r in out}
    assert len(paths) == 2  # no silent overwrite
    for r in out:
        assert open(r.local_path, "rb").read().decode() == r.url


def test_write_task_logs(spark, tmp_path):
    # S17: one per-task log file with the reference's header/footer framing
    from nexgap_spark.sources.files import write_task_logs

    df = spark.createDataFrame(
        [
            (1, "deer-flow", "short query", True, "body line 1\nbody line 2"),
            (2, "agno/team", "q" * 250, False, None),
        ],
        "task_index long, framework string, query string, success boolean, detail string",
    )
    written = write_task_logs(df, str(tmp_path / "logs"), timestamp="20260814_000000_000000")
    assert len(written) == 2
    by_name = {p.rsplit("/", 1)[-1]: open(p, encoding="utf-8").read() for p in written}
    # filename contract: query_{i:03d}_{sanitized framework}_{timestamp}.log
    assert "query_001_deer-flow_20260814_000000_000000.log" in by_name
    assert "query_002_agno_team_20260814_000000_000000.log" in by_name
    log1 = by_name["query_001_deer-flow_20260814_000000_000000.log"]
    assert "=" * 80 in log1
    assert "Query 1/2 - Log Started" in log1
    assert "Framework: deer-flow" in log1
    assert "body line 1" in log1
    assert "Status: Success" in log1 and "Query 1 - Log Ended" in log1
    # long queries truncate at 200 chars + ellipsis; failures say Failed
    log2 = by_name["query_002_agno_team_20260814_000000_000000.log"]
    assert "q" * 200 + "..." in log2 and "q" * 201 not in log2
    assert "Status: Failed" in log2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_tasks"):
        write_task_logs(df, str(tmp_path / "logs2"), max_tasks=1)


def test_write_task_logs_no_silent_overwrite(spark, tmp_path):
    # colliding (index, sanitized framework) pairs must yield distinct
    # files, not a last-writer-wins overwrite
    from nexgap_spark.sources.files import write_task_logs

    df = spark.createDataFrame(
        [
            (1, "a/b", "first", True, "body A"),
            (1, "a_b", "second", True, "body B"),
        ],
        "task_index long, framework string, query string, success boolean, detail string",
    )
    written = write_task_logs(df, str(tmp_path), timestamp="t0")
    assert len(set(written)) == 2
    bodies = "".join(open(p, encoding="utf-8").read() for p in written)
    assert "body A" in bodies and "body B" in bodies
