"""Write loadbench/data/expected.json: the digest of every catalog
workload query's oracle answer over loadbench/data/sf0.01.

    python3 loadbench/make_expected.py

Runs each query's DuckDB oracle (golden-fixture oracles read
fixtures/<name>.parquet of this checkout) and stores the digest the
catalog workload compares Spark's rows with. The inputs are fixed, so
this only needs re-running when the query list or an oracle changes.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT  # noqa: E402

sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import catalog  # noqa: E402
from scratchdb_spark import queries  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for f in sorted(os.listdir(catalog.SF_DIR)):
        con.execute(
            f"CREATE VIEW {f.rsplit('.', 1)[0]} AS SELECT * FROM "
            f"read_parquet('{os.path.join(catalog.SF_DIR, f)}')"
        )
    fixtures = os.path.join(ROOT, "fixtures") + "/"
    registry = queries.registry()
    out = {}
    for name in catalog.QUERIES:
        sql = re.sub(r"read_parquet\('[^']*/fixtures/",
                     "read_parquet('" + fixtures, registry[name].oracle)
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        out[name] = catalog.digest(cols, res.fetchall())
        print(name, out[name][:12], flush=True)
    with open(catalog.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
