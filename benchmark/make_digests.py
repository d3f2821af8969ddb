"""Regenerate ``digests.json``: the expected digest of every catalog item,
computed from its DuckDB oracle (``nexgap_spark.plans.ORACLES``) over the
committed tables in ``data/``.

    PYTHONPATH=. python3 benchmark/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from digest import digest  # noqa: E402
from worker import CURATION_ITEMS, DATA_DIR  # noqa: E402


def main() -> None:
    from nexgap_spark.plans import ORACLES

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA_DIR)):
        name = f.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{DATA_DIR}/{f}')")
    out = {}
    for name in CURATION_ITEMS:
        rel = con.sql(ORACLES[name])
        out[name] = digest(list(rel.columns), rel.fetchall())
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
