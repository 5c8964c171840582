#!/usr/bin/env python
"""Multi-file NEM ingest scaling probe.

Synthesizes N ZIPs of NEM-format CSV (~DATA_MB each, two tables per
file, realistic column mix: timestamp + ids + floats + quality flag),
ingests with sources/nemcsv.ingest, and reports wall-clock + rows/s at
1, 4, and N files. Ingest runs on the driver, so this measures one
machine's throughput. Files are read and segmented one after another,
and each file's blocks are tokenized in a thread pool as soon as that
file is segmented, while the next file is read; then each (table, date)
part is cast and written as its own thread-pool task.

Usage: python scripts/ingest_scaling_probe.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import zipfile
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def make_zip(path: str, file_idx: int, n_rows: int) -> int:
    """Write one NEM ZIP with UNIT_MW (80%) + REGION_FREQ_MEASURE (20%)
    blocks. Returns total D-row count."""
    units = [f"UNIT{u:03d}" for u in range(50)]
    lines = [
        "C,NEMP.WORLD,DISPATCHIS,AEMO,PUBLIC,2025/06/01,00:00:00,0000000000000001,,",
        "I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,MW_QUALITY_FLAG",
    ]
    n_unit = (n_rows * 4) // 5
    for i in range(n_unit):
        ts = f"2025/06/01 {i // 3600 % 24:02d}:{i // 60 % 60:02d}:{i % 60:02d}"
        u = units[i % len(units)]
        lines.append(
            f'D,FPP,UNIT_MW,1,"{ts}",{u},{u}P,{100 + (i * 7 % 400) / 10.0},{100.0},1'
        )
    lines.append(
        "I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,HZ_QUALITY_FLAG"
    )
    for i in range(n_rows - n_unit):
        ts = f"2025/06/01 {i // 3600 % 24:02d}:{i // 60 % 60:02d}:{i % 60:02d}"
        lines.append(
            f'D,FPP,REGION_FREQ_MEASURE,1,"{ts}",NSW1,{(i % 200 - 100) / 1000.0},1'
        )
    lines.append('C,"END OF REPORT",%d' % (n_rows + 2))
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(f"PUBLIC_DISPATCHIS_2025060100{file_idx:02d}_0001.CSV", "\r\n".join(lines))
    return n_rows


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    rows_per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000

    from nemscraper_spark.session import get_spark
    from nemscraper_spark.sources.nemcsv import ingest

    spark = get_spark(app_name="ingest_scaling_probe")

    base = tempfile.mkdtemp(prefix="ingest_probe_")
    try:
        zips = []
        total_rows = 0
        for i in range(n_files):
            zp = os.path.join(base, f"probe_{i:02d}.zip")
            total_rows_i = make_zip(zp, i, rows_per_file)
            zips.append(zp)
            total_rows += total_rows_i
        sz = sum(os.path.getsize(z) for z in zips)
        # uncompressed CSV bytes is the throughput denominator
        raw = sum(
            sum(zi.file_size for zi in zipfile.ZipFile(z).infolist()) for z in zips
        )
        print(
            f"corpus: {n_files} zips, {total_rows} D-rows, "
            f"{sz / 1e6:.1f} MB compressed / {raw / 1e6:.1f} MB raw"
        )

        for n in sorted({min(w, n_files) for w in (1, 4, 8, 16, n_files)}):
            out = os.path.join(base, f"out_{n}")
            t0 = time.perf_counter()
            counts = ingest(spark, zips[:n], out)
            dt = time.perf_counter() - t0
            rows = sum(counts.values())
            expect = rows_per_file * n
            frac = raw * n / n_files
            print(
                f"files={n:3d}  wall={dt:7.2f}s  rows={rows}  "
                f"({rows / dt / 1e3:.0f}k rows/s, {frac / dt / 1e6:.1f} MB/s raw) "
                f"conserved={rows == expect}"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
