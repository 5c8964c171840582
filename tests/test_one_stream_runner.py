"""One streaming runner in the engine.

``queries/streaming_ops._drain`` owns how a streaming query runs: the
state width, the availableNow trigger, the conf restore and the
per-micro-batch progress record. A ``writeStream`` anywhere else in the
package would start a query none of that covers, and a
``processAllAvailable`` would keep a live query the runner never drains.
This guard needs no Spark: it reads the package source.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "nemscraper_spark"
RUNNER = PKG / "queries" / "streaming_ops.py"


def test_write_stream_only_inside_drain():
    text = RUNNER.read_text()
    (drain,) = [
        n
        for n in ast.parse(text).body
        if isinstance(n, ast.FunctionDef) and n.name == "_drain"
    ]
    inside = ast.get_source_segment(text, drain).count("writeStream")
    outside = {
        str(p.relative_to(ROOT)): n
        for p in sorted(PKG.rglob("*.py"))
        if (n := p.read_text().count("writeStream") - (inside if p == RUNNER else 0))
    }
    assert inside == 1
    assert outside == {}, f"start streaming queries through streaming_ops._drain: {outside}"


def test_no_process_all_available():
    hits = [
        str(p.relative_to(ROOT))
        for p in sorted(PKG.rglob("*.py"))
        if "processAllAvailable" in p.read_text()
    ]
    assert hits == []
