#!/usr/bin/env python
"""Codec A/B for BASELINE.md: write the same tables through the
engine's own at-rest writer, ``sources/fsutil.write_parquet`` (its row
groups and stage-and-rename included), under each
``SPARK_GRAFT_REST_CODEC`` value and record size + wall time, so the
engine's default zstd-3 is directly comparable to the reference's
brotli-5 (the reference's README.md:14-27, writer
src/process/chunk.rs:367-369). ``write_parquet`` fixes the level:
zstd at 3, brotli at 5. Every file the service tick writes (ingest,
compaction, ledgers) goes through that writer; only the analytics
outputs (scripts/run_pipeline.py step 4) are Spark-written, snappy.

Usage: python scripts/codec_ab.py [sf_dir] (default /root/testdata/sf0.1)
Prints a markdown table; paste into BASELINE.md.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def main() -> None:
    import tempfile

    import pyarrow.parquet as pq

    from nemscraper_spark.sources import fsutil

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    # one text-heavy table (documents ~ the NEM CSV string payload) and
    # one numeric table (lineitem ~ the typed measurement payload)
    tables = {
        t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("documents", "lineitem")
    }
    rows = []
    for codec in ("snappy", "zstd", "brotli", "gzip"):
        os.environ["SPARK_GRAFT_REST_CODEC"] = codec
        for t, table in tables.items():
            with tempfile.TemporaryDirectory(prefix="codec_ab_") as tmp:
                t0 = time.perf_counter()
                fsutil.write_parquet(tmp, table.schema, table.to_batches())
                dt = time.perf_counter() - t0
                rows.append((t, codec, _tree_bytes(tmp), round(dt, 2)))

    print("\nTable | Codec | Bytes | Ratio vs snappy | Write s")
    print("---|---|---|---|---")
    base = {t: next(b for tt, c, b, _ in rows if tt == t and c == "snappy")
            for t in tables}
    for t, codec, b, dt in rows:
        print(f"{t} | {codec} | {b:,} | {b / base[t]:.3f} | {dt}")


if __name__ == "__main__":
    main()
