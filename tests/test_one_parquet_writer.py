"""One driver-side parquet writer in the engine.

``sources/fsutil.write_parquet`` owns the at-rest layout: the codec,
the row groups and the stage-and-rename commit. A second
``pyarrow.parquet.write_table`` or ``ParquetWriter`` call elsewhere in
the package would write a second layout. This guard needs no Spark: it
parses every package module and lists the calls by name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "nemscraper_spark"
WRITERS = {"write_table", "ParquetWriter"}


def _writer_calls(path: Path) -> list[int]:
    """Line numbers of calls to a name in ``WRITERS`` in ``path``."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Attribute) and node.func.attr in WRITERS)
            or (isinstance(node.func, ast.Name) and node.func.id in WRITERS)
        )
    ]


def test_parquet_is_written_only_through_fsutil():
    calls = {
        str(p.relative_to(ROOT)): lines
        for p in sorted(PKG.rglob("*.py"))
        if (lines := _writer_calls(p))
    }
    assert set(calls) == {"nemscraper_spark/sources/fsutil.py"}, (
        "write parquet through fsutil.write_parquet, the one at-rest "
        f"layout: {calls}"
    )


def test_write_parquet_coalesces_batches_into_row_groups(tmp_path, monkeypatch):
    """Batches of any size become row groups of ``ROW_GROUP_ROWS`` rows
    (the last one shorter), in order, under the rest codec."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nemscraper_spark.sources import fsutil

    monkeypatch.setattr(fsutil, "ROW_GROUP_ROWS", 4)
    monkeypatch.setenv("SPARK_GRAFT_REST_CODEC", "brotli")
    schema = pa.schema([("k", pa.int64())])
    batches = [pa.record_batch([pa.array(range(i, i + 3))], schema=schema) for i in (0, 3, 6)]
    fsutil.write_parquet(str(tmp_path), schema, [*batches, pa.table({"k": [9, 10]})])
    (name,) = [f.name for f in tmp_path.iterdir()]
    assert name.startswith("part-") and name.endswith(".parquet")
    f = pq.ParquetFile(tmp_path / name)
    md = f.metadata
    assert [md.row_group(g).num_rows for g in range(md.num_row_groups)] == [4, 4, 3]
    assert {md.row_group(g).column(0).compression for g in range(md.num_row_groups)} == {"BROTLI"}
    assert f.read().column("k").to_pylist() == list(range(11))
