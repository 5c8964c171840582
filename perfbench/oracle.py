"""DuckDB oracle digests for the check pass, run as a child process so
the oracle engine's memory never counts toward the driver's peak RSS.

    python3 oracle.py <request.json> <answer.json>

The request holds ``{"tables": dir, "oracles": {query: sql}}``; the
answer maps each query to its row count, sorted column names and the
sha256 of the canonical form scripts/driver_sim.py compares.
"""

from __future__ import annotations

import json
import os
import sys

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> None:
    req_path, out_path = sys.argv[1], sys.argv[2]
    with open(req_path) as fh:
        req = json.load(fh)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(os.path.dirname(here), "scripts"))
    import duckdb

    from workloads import canon_digest

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(req["tables"], f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, sql in req["oracles"].items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"rows": len(rows), "cols": sorted(cols), "digest": canon_digest(rows, cols)}
    with open(out_path, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
