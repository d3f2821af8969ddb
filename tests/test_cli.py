"""CLI surface: python -m nexgap_spark subcommands end to end.

One subprocess per test is expensive (fresh JVM), so a single test drives
convert and reuses its output; the other subcommands share the same code
paths through Engine, which test_engine covers in-process.
"""

from __future__ import annotations

import glob
import json
import subprocess
import sys

from tests.fixtures_spans import build_spans


def test_cli_convert_roundtrip(tmp_path):
    spans = tmp_path / "spans.jsonl"
    with open(spans, "w") as f:
        for row in build_spans():
            f.write(json.dumps(row) + "\n")
    out_dir = tmp_path / "out"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "nexgap_spark",
            "convert",
            str(spans),
            str(out_dir),
            "--agents",
            "planner,researcher,meta",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    records = []
    for p in glob.glob(str(out_dir / "part-*")):
        with open(p) as f:
            records.extend(json.loads(line) for line in f if line.strip())
    assert len(records) == 3
    assert {r["span_id"] for r in records} == {"span_0003", "span_0011", "span_0030"}
    for rec in records:
        assert rec["messages"]


def test_pandas_udf_from_foreign_cwd(tmp_path):
    """A driver that finds the package only through sys.path — run from a
    directory outside the checkout, with PYTHONPATH unset — must still get
    Python workers that import the package (the preload daemon module and
    the UDF body both need it)."""
    import os
    import pathlib

    repo = str(pathlib.Path(__file__).resolve().parents[1])
    script = tmp_path / "udf.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "from nexgap_spark.session import get_spark\n"
        "spark = get_spark('foreign_cwd', cpus=2)\n"
        "@pandas_udf('long')\n"
        "def plus1(s):\n"
        "    import nexgap_spark  # noqa: F401\n"
        "    return s + 1\n"
        "print(sorted(r[0] for r in spark.range(5).select(plus1('id')).collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().splitlines()[-1] == "[1, 2, 3, 4, 5]"
