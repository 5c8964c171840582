"""No registered query reads the environment.

A query whose plan depends on an environment variable has a second
code path that the DuckDB oracles, the plan pins and the fingerprints
only see in one setting. Deployment settings belong to the session
(``session.py``) and the at-rest writer (``sources/fsutil.py``), not to
``queries/``. This guard needs no Spark: it parses the package source.
"""

from __future__ import annotations

import ast
from pathlib import Path

QUERIES = Path(__file__).resolve().parents[1] / "nemscraper_spark" / "queries"
KNOBS = {"environ", "getenv", "environb", "getenvb"}


def _env_reads(src: str) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` reads and of
    ``from os import environ`` / ``getenv``."""
    lines = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in KNOBS
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            lines += [node.lineno for a in node.names if a.name in KNOBS]
    return sorted(lines)


def test_detector_sees_each_form():
    src = (
        "import os\n"
        "a = os.environ.get('X')\n"
        "b = os.getenv('X')\n"
        "from os import environ\n"
        "c = os.path.join('a', 'b')\n"
    )
    assert _env_reads(src) == [2, 3, 4]


def test_queries_read_no_environment():
    hits = {
        p.name: lines
        for p in sorted(QUERIES.rglob("*.py"))
        if (lines := _env_reads(p.read_text()))
    }
    assert hits == {}, f"a query reads the environment: {hits}"
