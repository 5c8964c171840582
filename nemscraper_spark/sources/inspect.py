"""Parquet footer row counts (SURVEY.md §2.1 S13; reference
verify.rs:88-111).

Footer-only reads: no row-group data IO, so a table's row count costs
one small read per file instead of a scan.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    return [path]


def footer_row_count(path: str) -> int:
    """Σ file_metadata.num_rows across files — verify.rs:88-111."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _files(path))

