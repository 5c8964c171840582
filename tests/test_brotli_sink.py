"""BROTLI-5 at-rest parity (reference README.md:14-27, writer at
src/process/chunk.rs:367-369): with SPARK_GRAFT_REST_CODEC=brotli the
compactor's pyarrow writer stages brotli-5, so the compacted partition
IS the reference's production format — no JVM codec jar required."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from nemscraper_spark.plans.compact import compact_partition


def _make_partition(tmp_path):
    part = tmp_path / "tbl" / "date=2024-01-01"
    part.mkdir(parents=True)
    pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]}).to_parquet(
        part / "f1.parquet"
    )
    pd.DataFrame({"a": [4, 5], "b": ["u", "v"]}).to_parquet(
        part / "f2.parquet"
    )
    return part


def test_compaction_brotli_at_rest(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_REST_CODEC", "brotli")
    part = _make_partition(tmp_path)
    rows = compact_partition(spark, str(part))
    assert rows == 5
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files) == 1 and files[0].startswith("compacted-")
    md = pq.ParquetFile(part / files[0]).metadata
    assert md.num_rows == 5
    # every column chunk is BROTLI — the reference's production codec
    for rg in range(md.num_row_groups):
        for c in range(md.row_group(rg).num_columns):
            assert md.row_group(rg).column(c).compression == "BROTLI"
    got = pq.read_table(part / files[0]).to_pydict()
    assert sorted(got["a"]) == [1, 2, 3, 4, 5]


def test_compaction_crash_recovery_still_holds_under_brotli(
    spark, tmp_path, monkeypatch
):
    """The swap protocol is codec-independent: a crash after staging
    leaves every source intact; recovery on the next call completes."""
    monkeypatch.setenv("SPARK_GRAFT_REST_CODEC", "brotli")
    part = _make_partition(tmp_path)
    with pytest.raises(RuntimeError, match="injected crash after stage"):
        compact_partition(spark, str(part), _crash_after="stage")
    sources = sorted(
        f for f in os.listdir(part) if f.endswith(".parquet")
    )
    assert sources == ["f1.parquet", "f2.parquet"]  # nothing lost
    assert compact_partition(spark, str(part)) == 5
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files) == 1
    assert (
        pq.ParquetFile(part / files[0]).metadata.row_group(0).column(0).compression
        == "BROTLI"
    )
